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

1. list ``--input`` (the path column only, so no content is read),
   drop the keys already in ``--processed-dir`` and collect the sorted
   worklist;
2. load exactly those files by explicit, glob-escaped path, so files
   processed in earlier runs are never read again;
3. split, parse and flatten once; with ``--payloads`` the events are
   cached, and the events write and payload assembly share them;
4. record the keys from that same scan's path column.

``--declarative`` keeps a semi-join of the ``shipper`` DataSource's
blocks against the worklist.
"""

from __future__ import annotations

import argparse
import json
import re
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ingest.pipeline import build_payloads, flatten_events, parse_blocks
from .ingest.splitter import split_blocks
from .ingest.tracking import filter_unprocessed, record_processed
from .session import get_session

REDACT_KEYS = ("token", "secret", "password", "key")
#: Events per payload, the reference's --humio-batch default (K:265).
DEFAULT_BATCH_SIZE = 5000
#: Characters Hadoop expands in a path glob (GlobPattern).
_GLOB_CHARS = re.compile(r"([\\\[\]{}*?])")


def redacted(args: dict) -> dict:
    """Echo-safe config: mask any value whose flag name looks secret
    (reference parity: pp_args masks aws_access_secret / humio-token)."""
    out = {}
    for k, v in args.items():
        out[k] = "****" if any(s in k.lower() for s in REDACT_KEYS) and v else v
    return out


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
    p.add_argument("--batch-size", type=int, default=DEFAULT_BATCH_SIZE,
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
    p.add_argument("--declarative", action="store_true",
                   help="batch mode: scan blocks via the custom 'shipper' "
                        "DataSource (spark.read.format('shipper')) instead "
                        "of binaryFile + splitter. Tracking keys become "
                        "plain OS paths rather than file: URIs — keep one "
                        "mode per --processed-dir")
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
        return spark.read.parquet(processed_dir)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def glob_escape(path: str) -> str:
    """Backslash-escape Hadoop's glob characters, so a listed key loads
    as exactly that file instead of a pattern over its siblings."""
    return _GLOB_CHARS.sub(r"\\\1", path)


def _path_frame(spark, paths: list[str]) -> DataFrame:
    """A one-column ``path`` frame from an Arrow table: a local scan,
    where a Python list would become a Python RDD with a job per use."""
    import pyarrow as pa
    return spark.createDataFrame(
        pa.table({"path": pa.array(paths, pa.string())}))


def _worklist(spark, ns) -> list[str]:
    """Sorted keys of the input files not yet processed.

    Materialized ONCE (sorted: the reference's lexicographic work-list
    order, K:292) and the whole run is pinned to this snapshot: the
    write and the processed-record must see the SAME file set, or a
    file landing between two lazy re-listings gets recorded as
    processed without its events ever being written. Driver memory:
    path strings only, the same order of magnitude Spark's own
    InMemoryFileIndex already holds for this listing."""
    if ns.declarative:
        from .sources.shipper_format import _list_files
        # Listing happens driver-side (the DataSource planner does the
        # same walk), so empty files still enter the worklist and get
        # tracked/warned even though they yield zero block rows.
        listing = _path_frame(spark, _list_files(ns.input, ns.prefix))
    else:
        # Only the path column: binaryFile reads no content for it.
        listing = (spark.read.format("binaryFile")
                   .option("recursiveFileLookup", "true")
                   .load(ns.input)
                   .select("path"))
        if ns.prefix:
            listing = listing.filter(F.col("path").startswith(ns.prefix))
    if ns.processed_dir:
        processed = _read_processed(spark, ns.processed_dir)
        if processed is not None:
            listing = filter_unprocessed(listing, processed, key_col="path")
    return sorted(r.path for r in listing.collect())


def run_batch(spark, ns) -> int:
    """One pass over exactly the worklist: list and filter once, read
    only the listed files, split and parse them once, and record the
    keys that read produced."""
    worklist = _worklist(spark, ns)
    # Empty-input short-circuit (reference parity, K:284-286).
    if not worklist:
        print("no unprocessed input files matched; nothing to do",
              file=sys.stderr)
        return 0
    if ns.declarative:
        from .sources.shipper_format import register as register_shipper
        register_shipper(spark)
        reader = spark.read.format("shipper")
        if ns.prefix:
            reader = reader.option("prefix", ns.prefix)
        done = _path_frame(spark, worklist)
        blocks = (reader.load(ns.input)
                  .join(F.broadcast(done), "path", "left_semi"))
    else:
        # The worklist's files by explicit path: history bytes are never
        # read, and a file gone since the listing fails the load. The
        # record comes from this same scan's path column (no content
        # read), so its keys are the listing's keys by construction.
        raw = spark.read.format("binaryFile").load(
            [glob_escape(p) for p in worklist])
        done = raw.select("path")
        blocks = split_blocks(raw.select("path", "content"))

    # Observability (reference logs block/event counts, K:114-117, 133,
    # 170): df.observe attaches the metric to the job itself — no
    # second scan, readable after the action. collect_set(file) is
    # bounded by the run's file count (same scale as the snapshot) and
    # lets us warn per zero-output file like the reference's
    # "0 message blocks" path (K:114-115).
    from pyspark.sql import Observation
    obs = Observation("shipper")
    events = (flatten_events(parse_blocks(blocks))
              .observe(obs, F.count(F.lit(1)).alias("n_events"),
                       F.collect_set("file").alias("files_with_events")))
    pay = None
    n_sent = 0
    if ns.payloads:
        # Split and parse once: the events write fills the cache, and
        # payload assembly reads it back.
        events = events.persist()
    try:
        events.write.mode("append").parquet(ns.output)
        if ns.payloads:
            pay = build_payloads(events, ns.batch_size)
            if ns.post_url:
                pay = pay.persist()  # one compute for both write and POST
            pay.write.mode("append").parquet(ns.output + "_payloads")
            if ns.post_url:
                from .ingest.sink import send_payloads
                from .ingest.transport import http_transport_factory
                n_sent = send_payloads(
                    pay, http_transport_factory(ns.post_url, ns.token))
    finally:
        if pay is not None:
            pay.unpersist()
        events.unpersist()
    metrics = obs.get
    files_with_events = set(metrics["files_with_events"])
    for path in worklist:
        if path not in files_with_events:
            print(f"warning: 0 message blocks in {path}", file=sys.stderr)
    print(json.dumps({"metrics": {
        "n_events": metrics["n_events"],
        "n_files": len(files_with_events),
        "n_files_empty": len(worklist) - len(files_with_events),
        "n_payloads_sent": n_sent}}),
        file=sys.stderr)
    if ns.processed_dir:
        # The static snapshot — NOT a re-listing — becomes the record.
        record_processed(ns.processed_dir, done, key_col="path")
    return 0


def run_stream(spark, ns) -> int:
    from .streaming.jobs import streaming_ingest
    if not ns.checkpoint:
        print("--stream requires --checkpoint", file=sys.stderr)
        return 2
    # streaming_ingest takes none of the batch-only flags: refuse them
    # rather than silently drop them.
    ignored = [flag for flag, value in (
        ("--payloads", ns.payloads), ("--post-url", ns.post_url),
        ("--prefix", ns.prefix),
        ("--batch-size", ns.batch_size != DEFAULT_BATCH_SIZE),
        ("--processed-dir", ns.processed_dir),
        ("--declarative", ns.declarative)) if value]
    if ignored:
        print(f"--stream does not support {', '.join(ignored)}",
              file=sys.stderr)
        return 2
    streaming_ingest(spark, ns.input, checkpoint=ns.checkpoint,
                     out_dir=ns.output)
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
