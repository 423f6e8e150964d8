"""The traced run: per-layer figures, timed from outside the package.

Nothing inside the package is instrumented. The traced run repeats
the workload's waves in a session with Spark's event log on, then
rebuilds one wave layer by layer from the package's public functions
on the same files, in the order ``run_batch`` runs them:

    list → tracking filter → binaryFile scan → splitter → parse/flatten
    → payload assembly → send → tracking record

A lazy layer is forced with one full-value action (``bit_xor`` of
``xxhash64`` over every column, so no column can be pruned away), and
its self time is its forced time minus that of its input prefix. An
eager call is timed directly. Spark counters per span come from the
event log (:mod:`.eventlog`).
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from . import eventlog, serial_ref
from .inputs import BATCH_SIZE, Truth
from .sink import check_delivery
from .workloads import Incorrect, TraceInput, Wave, fresh, uri

MB = 1024 * 1024
#: Seconds the in-process kernel and the serial replay each repeat
#: over the wave's files, so their rates rest on more than one pass.
MIN_REPEAT_S = 0.5


class Spans:
    """Wall-clock windows (for the event log) and durations per span."""

    def __init__(self) -> None:
        self.windows: dict[str, list[tuple[float, float]]] = {}
        self.secs: dict[str, list[float]] = {}

    @contextmanager
    def __call__(self, name: str):
        w0, t0 = time.time() * 1000, time.perf_counter()
        try:
            yield
        finally:
            self.secs.setdefault(name, []).append(time.perf_counter() - t0)
            self.windows.setdefault(name, []).append((w0, time.time() * 1000))

    def s(self, name: str) -> float:
        return sum(self.secs[name])


def force(df, *aggs) -> list:
    """Run ``df`` in full with one row back: ``[hash, *aggs]``, the
    full-value hash and ``aggs`` computed in the same pass. Map columns
    are hashed through ``to_json``, as the oracle harness's full-value
    action does, because Spark cannot hash a map."""
    from pyspark.sql import functions as F
    cols = [F.to_json(F.col(c)) if "map<" in t else F.col(c)
            for c, t in df.dtypes]
    return list(df.select(F.bit_xor(F.xxhash64(*cols)), *aggs).collect()[0])


def _parquet_parts(path: str) -> int:
    return sum(1 for _root, _dirs, names in os.walk(path)
               for n in names if n.endswith(".parquet"))


def decompose(spark, inp: TraceInput, sink, work: str,
              spans: Spans) -> tuple[dict, list[str]]:
    """Rebuild one wave of ``run_batch`` layer by layer. Returns the
    per-layer figures that are not Spark counters, and the worklist."""
    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.ingest.pipeline import (
        build_payloads, flatten_events, parse_blocks)
    from kinesis_s3_data_shipper_spark.ingest.sink import send_payloads
    from kinesis_s3_data_shipper_spark.ingest.splitter import split_blocks
    from kinesis_s3_data_shipper_spark.ingest.tracking import (
        filter_unprocessed, record_processed)
    from kinesis_s3_data_shipper_spark.ingest.transport import (
        http_transport_factory)

    def listing():
        return (spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true").load(inp.landing))

    with spans("list"):
        listing().select("path").collect()
    with spans("filter"):
        kept = filter_unprocessed(listing().select("path"),
                                  spark.read.parquet(inp.processed),
                                  key_col="path").collect()
    worklist = sorted(r.path for r in kept)
    want = sorted(uri(p) for p in inp.truth.files)
    if worklist != want:
        raise Incorrect(f"tracking kept {len(worklist)} files, "
                        f"expected {len(want)}")
    work_df = spark.createDataFrame([(p,) for p in worklist], "path string")

    scan = (listing().select("path", "content")
            .join(F.broadcast(work_df), "path", "left_semi"))
    with spans("scan"):
        force(scan)
    blocks = split_blocks(scan)
    with spans("split"):
        _, n_blocks, out_bytes = force(blocks, F.count(F.lit(1)),
                                    F.sum(F.octet_length("block")))
    parsed = parse_blocks(blocks)
    with spans("parse"):
        _, quarantined = force(parsed, F.count("_corrupt"))
    events = flatten_events(parsed)
    with spans("parse_flatten"):
        _, n_events = force(events, F.count(F.lit(1)))
    with spans("events_write"):
        events.write.parquet(fresh(os.path.join(work, "trace_events")))
    payloads = build_payloads(events, BATCH_SIZE)
    with spans("payload"):
        _, n_payloads = force(payloads, F.count(F.lit(1)))
    payloads = payloads.persist()
    with spans("payload_write"):
        payloads.write.parquet(fresh(os.path.join(work, "trace_payloads")))
    with spans("send"):
        send_payloads(payloads, http_transport_factory(sink.url))
    delivery = check_delivery(sink.take(), inp.truth)
    payloads.unpersist()
    if delivery.problems:
        raise Incorrect("traced send: " + "; ".join(delivery.problems))
    with spans("record"):
        record_processed(fresh(os.path.join(work, "trace_record")), work_df)

    return {
        "sources.list_s": spans.s("list"),
        "sources.binaryfile_scan_s": spans.s("scan"),
        "tracking.filter_s": spans.s("filter") - spans.s("list"),
        "tracking.record_s": spans.s("record"),
        "tracking.processed_keys": spark.read.parquet(inp.processed).count(),
        "tracking.processed_parts": _parquet_parts(inp.processed),
        "splitter.self_s": spans.s("split") - spans.s("scan"),
        "splitter.blocks": n_blocks,
        "splitter.in_mb": inp.truth.bytes_on_disk / MB,
        "splitter.out_mb": (out_bytes or 0) / MB,
        "pipeline.parse_flatten_self_s":
            spans.s("parse_flatten") - spans.s("split"),
        "pipeline.events": n_events,
        "pipeline.quarantined_blocks": quarantined / n_blocks if n_blocks else 0.0,
        "pipeline.payload_self_s": spans.s("payload") - spans.s("parse_flatten"),
        "pipeline.payloads": n_payloads,
        "pipeline.events_per_payload": n_events / n_payloads if n_payloads else 0.0,
        "sink.send_s": spans.s("send"),
        "sink.posts": delivery.posts,
        "sink.body_mb": delivery.body_bytes / MB,
        "shipper.events_write_self_s":
            spans.s("events_write") - spans.s("parse_flatten"),
        "shipper.payload_write_self_s":
            spans.s("payload_write") - spans.s("payload"),
    }, worklist


def shipper_scan(spark, inp: TraceInput, worklist: list[str],
                 n_blocks: int, spans: Spans) -> float:
    """The ``--declarative`` path: the ``shipper`` DataSource over the
    same landing directory, semi-joined to the same worklist."""
    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.sources.shipper_format import register
    register(spark)
    plain = spark.createDataFrame([(p[len("file:"):],) for p in worklist],
                                  "path string")
    blocks = (spark.read.format("shipper").load(inp.landing)
              .join(F.broadcast(plain), "path", "left_semi"))
    with spans("shipper_scan"):
        _, n = force(blocks, F.count(F.lit(1)))
    if n != n_blocks:
        raise Incorrect(f"shipper source gave {n} blocks, splitter {n_blocks}")
    return spans.s("shipper_scan")


def ingest_wave(spark, inp: TraceInput, work: str, spans: Spans) -> float:
    """``streaming_ingest`` draining the same wave through a checkpoint
    that has already seen the prior files."""
    from kinesis_s3_data_shipper_spark.streaming.jobs import streaming_ingest
    landing = fresh(os.path.join(work, "stream_landing"))
    checkpoint = fresh(os.path.join(work, "stream_checkpoint"))
    out = fresh(os.path.join(work, "stream_out"))

    def link(paths: list[str]) -> None:
        # The stream source lists one flat directory.
        os.makedirs(landing, exist_ok=True)
        for p in paths:
            flat = os.path.relpath(p, inp.landing).replace(os.sep, "_")
            os.link(p, os.path.join(landing, flat))

    before = 0
    if inp.prior:
        link(inp.prior)
        with spans("stream_prime"):
            streaming_ingest(spark, landing, checkpoint=checkpoint, out_dir=out)
        before = spark.read.parquet(out).count()
    link(inp.truth.files)
    with spans("ingest_wave"):
        streaming_ingest(spark, landing, checkpoint=checkpoint, out_dir=out)
    got = spark.read.parquet(out).count() - before
    if got != len(inp.truth.events):
        raise Incorrect(f"stream drained {got} events, "
                        f"expected {len(inp.truth.events)}")
    return spans.s("ingest_wave")


def kernel_mb_per_s(paths: list[str]) -> float:
    """The in-process gunzip + marker-split kernel over the same files,
    so kernel speed can be told apart from Spark's overhead."""
    from kinesis_s3_data_shipper_spark.ingest.splitter import (
        gunzip_recursive, split_marker_blocks)
    datas = []
    for p in paths:
        with open(p, "rb") as fh:
            datas.append(fh.read())
    size = sum(len(d) for d in datas)
    reps, t0 = 0, time.perf_counter()
    while True:
        for d in datas:
            split_marker_blocks(gunzip_recursive(d))
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= MIN_REPEAT_S:
            return size * reps / MB / elapsed


def serial_ref_rate(truth: Truth, sink) -> float:
    """Events per second of :func:`serial_ref.replay` over the files of
    ``truth``, replayed until :data:`MIN_REPEAT_S` has passed; every
    replay is held to the same ground truth as the package."""
    sent, elapsed = 0, 0.0
    while elapsed < MIN_REPEAT_S:
        t0 = time.perf_counter()
        sent += serial_ref.replay(sorted(truth.files), sink.url)
        elapsed += time.perf_counter() - t0
        delivery = check_delivery(sink.take(), truth)
        if delivery.problems:
            raise Incorrect("serial replay: " + "; ".join(delivery.problems))
    return sent / elapsed


def spark_counters(engine, spans: Spans) -> dict:
    """Stop the session and fold its event log into ``spark.<span>.<counter>``
    for every span; a span entered more than once (``run_batch``, once
    per wave) reports its counters per entry."""
    folded = eventlog.fold_file(engine.finish_event_log(), spans.windows)
    return {f"spark.{span}.{counter}": value / len(spans.windows[span])
            for span, counters in folded.items()
            for counter, value in counters.items()}


def ship_layers(workload, waves: list[Wave], spans: Spans) -> dict:
    """Every per-layer figure. Lands one more wave, rebuilds it layer by
    layer, runs the alternative paths and the controls over it, times
    the analytics layer (:mod:`.mix`), then stops the session to read
    its event log."""
    spark, sink, work = workload.spark, workload.sink, workload.work
    inp = workload.trace_input()
    values, worklist = decompose(spark, inp, sink, work, spans)
    values["sources.shipper_scan_s"] = shipper_scan(
        spark, inp, worklist, values["splitter.blocks"], spans)
    values["streaming.ingest_wave_s"] = ingest_wave(spark, inp, work, spans)
    values["control.serial_ref_events_per_s"] = serial_ref_rate(inp.truth,
                                                                sink)
    values["splitter.kernel_mb_per_s"] = kernel_mb_per_s(
        sorted(inp.truth.files))
    from .mix import mix_layers  # imported here: mix imports this module
    values.update(mix_layers(spark, work, workload.seed, spans))
    values.update(spark_counters(workload.engine, spans))

    traced = statistics.median(w.wall_s for w in waves)
    values["shipper.run_batch_s"] = traced
    values["shipper.scan_read_ratio"] = (
        values["spark.scan.input_mb"] / values["splitter.in_mb"])
    # The spans that redo what run_batch does: the listing (filtered
    # when it tracks), the events write and the payload write (each
    # computing the whole chain from the scan), the send and the record.
    span_sum = (spans.s("filter" if inp.uses_tracking else "list")
                + spans.s("events_write") + spans.s("payload_write")
                + spans.s("send"))
    if inp.uses_tracking:
        span_sum += spans.s("record")
    values["trace.span_sum_s"] = span_sum
    values["trace.accounted_ratio"] = span_sum / traced
    return values
