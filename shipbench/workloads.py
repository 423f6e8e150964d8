"""The two shipper workloads: a backfill and the cron pattern.

Both drive ``shipper.run_batch`` — the package's batch entry point —
with ``--payloads --post-url`` into the in-process sink, one client,
closed loop: the next call starts only after the previous one returned
and its delivery was checked. A "wave" is one such call over newly
landed files.

- ``ship_bulk`` ships one landing directory of 48.6k events per call
  into a fresh output, without tracking. The splitter, parse/flatten,
  payload assembly and the sink do nearly all the work.
- ``ship_incremental`` lands 8 small files per wave next to a history
  of 80 files already recorded in ``--processed-dir``. Listing, the
  tracking anti-join, the re-scan of the history and the per-job fixed
  cost dominate; the splitter does little. After each wave, outside
  its timing, the wave's files leave the landing directory and the
  processed directory goes back to its state after set-up, so every
  wave sees the same history however many waves a run gets to.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from .inputs import Truth, bulk_landing, small_file
from .sink import Sink, check_delivery

HISTORY_FILES = 80
WAVE_FILES = 8
#: Untimed waves at the end of set-up: the first waves after a cold
#: start run slower while the JVM compiles the hot paths.
WARMUP_WAVES = 2


class Incorrect(Exception):
    """The program's output did not match the ground truth."""


@dataclass
class Wave:
    wall_s: float
    events: int


@dataclass
class TraceInput:
    """What the traced run decomposes: the files of one wave, sitting in
    ``landing`` beside ``prior`` files that are already processed."""
    landing: str
    processed: str
    truth: Truth
    prior: list[str]
    uses_tracking: bool


def uri(path: str) -> str:
    """The key Spark's binaryFile source gives a local file."""
    return "file:" + os.path.abspath(path)


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    """Set-up and one timed wave of ``shipper.run_batch``."""

    def __init__(self, engine, sink: Sink, work: str, seed: int) -> None:
        self.engine = engine
        self.sink = sink
        self.work = work
        self.seed = seed
        self.runs = 0
        self.posts = 0

    @property
    def spark(self):
        return self.engine.spark

    def setup(self) -> None:
        raise NotImplementedError

    def wave(self) -> Wave:
        raise NotImplementedError

    def trace_input(self) -> TraceInput:
        raise NotImplementedError

    def run_batch(self, landing: str, truth: Truth, t0: float | None = None,
                  processed: str | None = None) -> Wave:
        """One shipper run, timed from ``t0`` (default: now) until it
        returns, then checked against ``truth`` outside the timing."""
        from kinesis_s3_data_shipper_spark import shipper
        self.runs += 1
        out = fresh(os.path.join(self.work, "out", str(self.runs)))
        argv = ["--input", landing, "--output", out, "--payloads",
                "--post-url", self.sink.url]
        if processed:
            argv += ["--processed-dir", processed]
        ns = shipper.build_parser().parse_args(argv)
        t0 = time.perf_counter() if t0 is None else t0
        if shipper.run_batch(self.spark, ns) != 0:
            raise Incorrect("run_batch returned non-zero")
        wall = time.perf_counter() - t0
        delivery = check_delivery(self.sink.take(), truth)
        self.posts += delivery.posts
        if delivery.problems:
            raise Incorrect(f"{landing}: " + "; ".join(delivery.problems))
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        return Wave(wall, delivery.events)


class ShipBulk(Workload):
    def setup(self) -> None:
        self.landing = fresh(os.path.join(self.work, "bulk"))
        self.truth = bulk_landing(self.landing, self.seed)
        for _ in range(WARMUP_WAVES):
            self.wave()

    def wave(self) -> Wave:
        return self.run_batch(self.landing, self.truth)

    def trace_input(self) -> TraceInput:
        # run_batch tracks nothing here; the tracking spans filter the
        # landing directory against keys of files that are not in it,
        # which removes nothing, so they time the anti-join on its own.
        from kinesis_s3_data_shipper_spark.ingest.tracking import (
            record_processed)
        processed = fresh(os.path.join(self.work, "bulk_processed"))
        record_processed(processed, self.spark.createDataFrame(
            [(uri(os.path.join(self.work, "elsewhere", str(i))),)
             for i in range(WAVE_FILES)], "path string"))
        return TraceInput(self.landing, processed, self.truth, [], False)


class ShipIncremental(Workload):
    def setup(self) -> None:
        from kinesis_s3_data_shipper_spark.ingest.tracking import (
            record_processed)
        self.landing = fresh(os.path.join(self.work, "inc"))
        self.processed = fresh(os.path.join(self.work, "inc_processed"))
        self.snapshot = fresh(os.path.join(self.work, "inc_snapshot"))
        self.shape, self.rng = random.Random(0), random.Random(self.seed)
        self.files: list[str] = []
        self.n_waves = 0
        for i in range(HISTORY_FILES):
            t = small_file(self.landing, self.shape, self.rng,
                           f"history/h-{i:05d}.log", f"s{self.seed}.h{i}")
            self.files += t.files
        record_processed(self.snapshot, self.spark.createDataFrame(
            [(uri(p),) for p in self.files], "path string"))
        shutil.copytree(self.snapshot, self.processed)
        for _ in range(WARMUP_WAVES):
            self.wave()

    def land(self) -> Truth:
        """Write the next wave's files; the last one closes on return."""
        truth = Truth()
        n = self.n_waves
        self.n_waves += 1
        for j in range(WAVE_FILES):
            truth.merge(small_file(
                self.landing, self.shape, self.rng,
                f"waves/w-{n:04d}-{j}.log", f"s{self.seed}.w{n}.{j}"))
        return truth

    def wave(self) -> Wave:
        truth = self.land()
        closed = time.perf_counter()
        wave = self.run_batch(self.landing, truth, t0=closed,
                              processed=self.processed)
        for path in truth.files:
            os.remove(path)
        shutil.rmtree(self.processed)
        shutil.copytree(self.snapshot, self.processed)
        return wave

    def trace_input(self) -> TraceInput:
        return TraceInput(self.landing, self.processed, self.land(),
                          list(self.files), True)



WORKLOADS = {"ship_bulk": ShipBulk, "ship_incremental": ShipIncremental}
