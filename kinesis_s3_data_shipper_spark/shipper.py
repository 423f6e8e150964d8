"""The shipper job as a thin CLI — the reference's operational surface
(kinesis-to-humio.py:249-295) re-expressed over this engine.

Flag parity (reference → here):
- ``--bucket``/``--prefix`` (K:256-258)   → ``--input`` dir/glob +
  ``--prefix`` filter (an s3a:// URI works unchanged on a cluster with
  the S3A connector; the listing prefix pushdown is the S3A file index)
- ``--humio-batch`` (K:265)               → ``--batch-size``
- ``--track`` (SQLite seen-files, K:48-68) → ``--processed-dir``
  (batch anti-join) or the streaming checkpoint (``--stream``)
- ``--tmpdir`` (K:269)                    → not needed (no staging;
  binaryFile streams content)
- ``--debug`` (K:268)                     → ``--debug``

Secrets passed via ``--token`` are redacted when the config is echoed,
like the reference's pp_args (K:236-245).

Batch mode makes one pass over exactly the worklist, as the reference
downloads and parses each unprocessed file once (K:187-216, K:82-174):

1. list ``--input`` (each file's path and length, so no content is
   read), drop the keys already in ``--processed-dir`` (read with the
   record's known schema, so no job infers it) and load exactly the
   rest by explicit, glob-escaped path; a worklist smaller than one
   :data:`SHIP_TASK_FLOOR_BYTES` per core is coalesced to one
   partition per floor (:func:`ship_partitions`), so a cron tick of a
   few small files runs a task or two per stage, not one per core;
2. :func:`ship` them: split and parse once and write the flattened
   events; with ``--payloads`` the parsed blocks are cached, and a
   second job assembles each block's payloads in place (no shuffle),
   POSTs them with ``--post-url`` and writes ``<output>_payloads``,
   which is therefore committed only when every POST succeeded;
3. record the keys from that same scan's path column.

``--stream`` runs the same :func:`ship` once per micro-batch epoch of
``sources.kinesis.firehose_landing_source``; its checkpoint is the
processed-file record, and its output carries an ``_epoch`` partition
column, so batch and stream runs must not share one ``--output``.
"""

from __future__ import annotations

import argparse
import json
import math
import re
import sys

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .ingest.pipeline import block_payloads, flatten_events, parse_blocks
from .ingest.splitter import split_blocks
from .ingest.tracking import filter_unprocessed, record_processed
from .session import get_session

REDACT_KEYS = ("token", "secret", "password", "key")
#: Characters Hadoop expands in a path glob (GlobPattern).
_GLOB_CHARS = re.compile(r"([\\\[\]{}*?])")
#: The schema record_processed writes: read with it, the record needs
#: no schema-inference job.
PROCESSED_SCHEMA = "path STRING"
#: Bytes on disk per ship task of a small worklist. On a 4-core VM a
#: ship task costs about 150 ms fixed and each MB of compressed input
#: adds about 60 ms, so below this floor a task's fixed cost outweighs
#: its work. A 3.3 MB backfill comes to 4 floors, not fewer than 4
#: cores, so it keeps the scan's own 4 tasks.
SHIP_TASK_FLOOR_BYTES = 1 << 20


def redacted(args: dict) -> dict:
    """Echo-safe config: mask any value whose flag name looks secret
    (reference parity: pp_args masks aws_access_secret / humio-token)."""
    out = {}
    for k, v in args.items():
        out[k] = "****" if any(s in k.lower() for s in REDACT_KEYS) and v else v
    return out


def _batch_size(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, not {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m kinesis_s3_data_shipper_spark",
        description="Run the shipper ingest pipeline on Spark.")
    p.add_argument("--input", required=True,
                   help="landing directory / glob of raw shipper files "
                        "(local path or s3a:// URI)")
    p.add_argument("--output", required=True,
                   help="directory for parsed-event parquet output")
    p.add_argument("--prefix", default=None,
                   help="only process files whose path starts with this")
    p.add_argument("--batch-size", type=_batch_size, default=5000,
                   help="max events per assembled payload (default 5000, "
                        "the reference's --humio-batch default)")
    p.add_argument("--processed-dir", default=None,
                   help="batch mode: parquet dir of already-processed file "
                        "keys; matching inputs are skipped and new keys "
                        "recorded (the reference's SQLite tracking)")
    p.add_argument("--stream", action="store_true",
                   help="run as a Structured Streaming job (checkpoint "
                        "replaces --processed-dir)")
    p.add_argument("--checkpoint", default=None,
                   help="checkpoint dir (required with --stream)")
    p.add_argument("--token", default=None,
                   help="ingest-API bearer token (redacted in logs; used "
                        "by --post-url, unused by the parquet sink)")
    p.add_argument("--payloads", action="store_true",
                   help="also write assembled payload JSON (tags+events "
                        "batches) under <output>_payloads")
    p.add_argument("--post-url", default=None,
                   help="with --payloads: POST each payload to this base "
                        "URL's structured-ingest endpoint through a "
                        "per-executor pooled transport (the reference's "
                        "HTTP sink, with idempotency keys + retry)")
    p.add_argument("--debug", action="store_true")
    return p


def _read_processed(spark, processed_dir: str) -> DataFrame | None:
    """Read the processed-keys table; None only when the path doesn't
    exist yet (first run). Any OTHER failure (corrupt parquet,
    permissions, transient FS error) must fail the run — silently
    treating it as 'first run' would disable dedup tracking and
    re-append every previously-shipped file."""
    from pyspark.errors import AnalysisException
    try:
        processed = spark.read.schema(PROCESSED_SCHEMA).parquet(
            processed_dir)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise
    # The known schema reads a file without a path column as null
    # keys, which would skip nothing: fail in the same scan instead.
    return processed.select(F.coalesce("path", F.raise_error(F.lit(
        f"{processed_dir} holds a record without a path"))).alias("path"))


def ship_partitions(total_bytes: int, cores: int) -> int | None:
    """The partitions to coalesce a worklist of ``total_bytes`` on disk
    to: one per :data:`SHIP_TASK_FLOOR_BYTES`, at least one. None, so
    the scan keeps its own partitioning, when that is not fewer than
    ``cores``."""
    n = max(1, math.ceil(total_bytes / SHIP_TASK_FLOOR_BYTES))
    return n if n < cores else None


def glob_escape(path: str) -> str:
    """Backslash-escape Hadoop's glob characters, so a listed key loads
    as exactly that file instead of a pattern over its siblings."""
    return _GLOB_CHARS.sub(r"\\\1", path)


def _qualified_prefix(spark, ns) -> str:
    """``--prefix`` spelled as the listing's keys are: a scheme-less
    prefix is qualified by the input's filesystem (scheme, authority
    and, if relative, the working directory), as ``--input`` is; a
    prefix with a scheme is kept as given."""
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    prefix = hadoop_path(ns.prefix)
    if prefix.toUri().getScheme() is not None:
        return ns.prefix
    fs = hadoop_path(ns.input).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration())
    qualified = fs.makeQualified(prefix).toString()
    # Path drops a trailing slash, which bounds a directory prefix.
    if ns.prefix.endswith("/") and not qualified.endswith("/"):
        qualified += "/"
    return qualified


def _worklist(spark, ns) -> list[tuple[str, int]]:
    """Sorted keys, with their lengths, of the input files not yet
    processed.

    Materialized ONCE (sorted: the reference's lexicographic work-list
    order, K:292) and the whole run is pinned to this snapshot: the
    write and the processed-record must see the SAME file set, or a
    file landing between two lazy re-listings gets recorded as
    processed without its events ever being written. Driver memory:
    a path and a length per file, the same order of magnitude Spark's
    own InMemoryFileIndex already holds for this listing."""
    # No content column: binaryFile reads no content for these.
    listing = (spark.read.format("binaryFile")
               .option("recursiveFileLookup", "true")
               .load(ns.input)
               .select("path", "length"))
    if ns.prefix:
        listing = listing.filter(
            F.col("path").startswith(_qualified_prefix(spark, ns)))
    if ns.processed_dir:
        processed = _read_processed(spark, ns.processed_dir)
        if processed is not None:
            listing = filter_unprocessed(listing, processed, key_col="path")
    return sorted((r.path, r.length) for r in listing.collect())


def _write(df: DataFrame, path: str, epoch: int | None) -> None:
    """Append, or dynamically overwrite the epoch's ``_epoch``
    partition, so a replayed epoch rewrites its rows."""
    if epoch is None:
        df.write.mode("append").parquet(path)
    else:
        (df.withColumn("_epoch", F.lit(epoch)).write.mode("overwrite")
         .partitionBy("_epoch").option("partitionOverwriteMode", "dynamic")
         .parquet(path))


def ship(raw: DataFrame, opts, epoch: int | None = None) -> None:
    """The ship step of both modes, over (path, content) rows, under
    the parsed CLI flags ``opts``. Every file is split (and a bad one
    fails the step) before the first POST."""
    # Observability (reference logs block/event counts, K:114-117, 133,
    # 170): df.observe attaches the metrics to the events write itself
    # — no second scan. The file sets are bounded by the step's file
    # count and give the reference's per-file "0 message blocks"
    # warning (K:114-115).
    seen, obs = Observation(), Observation()
    parsed = parse_blocks(split_blocks(
        raw.select("path", "content")
        .observe(seen, F.collect_set("path").alias("files"))))
    if opts.payloads:
        # Split and parse once: the events write fills the cache, and
        # payload assembly reads it back.
        parsed = parsed.persist()
    events = (flatten_events(parsed)
              .observe(obs, F.count(F.lit(1)).alias("n_events"),
                       F.collect_set("file").alias("files_with_events")))
    n_sent = 0
    try:
        _write(events, opts.output, epoch)
        if opts.payloads:
            pay = block_payloads(parsed, opts.batch_size)
            if opts.post_url:
                from .ingest.sink import deliver_payloads
                from .ingest.transport import http_transport_factory
                sent = Observation()
                pay = deliver_payloads(
                    pay, http_transport_factory(opts.post_url, opts.token)
                ).observe(sent, F.count(F.lit(1)).alias("n"))
            # One job: assemble, POST, write.
            _write(pay, opts.output + "_payloads", epoch)
            if opts.post_url:
                n_sent = sent.get["n"]
    finally:
        parsed.unpersist()
    files, metrics = set(seen.get["files"]), obs.get
    empty = files - set(metrics["files_with_events"])
    for path in sorted(empty):
        print(f"warning: 0 message blocks in {path}", file=sys.stderr)
    print(json.dumps({"metrics": {
        "n_events": metrics["n_events"],
        "n_files": len(files - empty),
        "n_files_empty": len(empty),
        "n_payloads_sent": n_sent}}),
        file=sys.stderr)


def run_batch(spark, ns) -> int:
    """One pass over exactly the worklist: list and filter once, ship
    only the listed files, and record the keys that read produced."""
    worklist = _worklist(spark, ns)
    # Empty-input short-circuit (reference parity, K:284-286).
    if not worklist:
        print("no unprocessed input files matched; nothing to do",
              file=sys.stderr)
        return 0
    # The worklist's files by explicit path: history bytes are never
    # read, and a file gone since the listing fails the load.
    raw = spark.read.format("binaryFile").load(
        [glob_escape(p) for p, _ in worklist])
    n = ship_partitions(sum(length for _, length in worklist),
                        spark.sparkContext.defaultParallelism)
    if n is not None:
        # Narrow: no shuffle and no job.
        raw = raw.coalesce(n)
    ship(raw, ns)
    if ns.processed_dir:
        # The static snapshot — NOT a re-listing — becomes the record:
        # this scan's path column, so its keys are the listing's.
        record_processed(ns.processed_dir, raw.select("path"))
    return 0


def run_stream(spark, ns) -> int:
    from .streaming.jobs import streaming_ingest
    if not ns.checkpoint:
        print("--stream requires --checkpoint", file=sys.stderr)
        return 2
    # The checkpoint is the stream's record: refuse the batch record's
    # flags rather than silently drop them.
    ignored = [flag for flag, value in (
        ("--prefix", ns.prefix),
        ("--processed-dir", ns.processed_dir)) if value]
    if ignored:
        print(f"--stream does not support {', '.join(ignored)}",
              file=sys.stderr)
        return 2
    streaming_ingest(spark, ns.input, checkpoint=ns.checkpoint,
                     out_dir=ns.output, opts=ns)
    return 0


def main(argv: list[str] | None = None) -> int:
    ns = build_parser().parse_args(argv)
    print(json.dumps(redacted(vars(ns))), file=sys.stderr)
    spark = get_session("ksds-shipper")
    if ns.debug:
        spark.sparkContext.setLogLevel("INFO")
    return run_stream(spark, ns) if ns.stream else run_batch(spark, ns)


if __name__ == "__main__":
    raise SystemExit(main())
