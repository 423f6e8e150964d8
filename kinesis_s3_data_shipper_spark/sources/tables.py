"""Parquet table loaders for the driver's TPC-H-ish + LLM-pipeline tables.

The tables (see /root/repo/TESTDATA.md) live as one parquet file each
under an sf directory. ``events.ts`` has shipped as BOTH parquet
TIMESTAMP(NANOS) (readable only as epoch-nanos LongType via the
``nanosAsLong`` conf) and plain TIMESTAMP(MICROS) across driver data
generations, so :func:`load_table` normalizes it to ONE internal
convention — epoch-nanos LongType — regardless of the physical type.
The normalization is a single projection (no shuffle, column pruning
and predicate pushdown on every other column are unaffected), and the
DuckDB oracles use ``epoch_ns(ts)``, which is exact for either
physical type.

At 100 TB these would be multi-file partitioned datasets; everything
downstream reads through ``spark.read.parquet`` so partition pruning,
predicate pushdown, and column pruning apply unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_runtime_confs

TABLE_NAMES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Map ``ts`` to epoch-nanos LongType whatever the physical type.

    TIMESTAMP(NANOS) parquet arrives as LongType already (nanosAsLong);
    TIMESTAMP(MICROS) arrives as timestamp/timestamp_ntz and converts
    exactly (micros * 1000 never overflows for any date < year 2262).
    The session time zone is pinned to UTC (RUNTIME_CONFS), so the
    ntz→timestamp cast reads the naive value as a UTC instant.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype in ("timestamp", "timestamp_ntz"):
        ns = (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
        df = df.withColumn("ts", ns.cast("long"))
    return df


def table_path(sf_dir: str, name: str) -> str:
    """The on-disk location of one table: either a single
    ``<name>.parquet`` file or a ``<name>/`` directory of part-files
    (the multi-file layout every real warehouse table has — what a
    repartitioned/compacted/partitioned copy of the dataset looks
    like). Preferring the file keeps the driver's single-file layout
    authoritative when both exist."""
    file_path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.exists(file_path):
        return file_path
    dir_path = os.path.join(sf_dir, name)
    if os.path.isdir(dir_path):
        return dir_path
    raise FileNotFoundError(
        f"table {name!r} not found under {sf_dir}: neither "
        f"{name}.parquet nor a {name}/ directory of part-files")


#: (sf_dir, name) → row count. Footer metadata is immutable for a
#: given file set, so a session-lifetime cache is safe; a refreshed
#: table lands under a new sf_dir (the driver's layout) or a new file
#: set, which changes nothing this cache has seen.
_ROW_COUNT_CACHE: dict[tuple[str, str], int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet FOOTER — no Spark job at all
    (pyarrow reads metadata driver-side in milliseconds). This is how
    sizing steps (boundary-sample moduli in the distributed ranker's
    consumers) get n without paying a count() job per query: the
    round-5 verdict flagged those prep jobs as the two most expensive
    bench entries' overhead. Works for both layouts (single file or
    directory of part-files); cached per (sf_dir, table) for the
    session."""
    key = (sf_dir, name)
    hit = _ROW_COUNT_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq
    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        n = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith(("_", ".")))
    else:
        n = pq.ParquetFile(path).metadata.num_rows
    _ROW_COUNT_CACHE[key] = n
    return n


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table from an sf directory (single-file or
    multi-file layout — see :func:`table_path`)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_runtime_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _normalize_event_ts(df)
    return df
