"""Sources: parquet table loaders and the raw shipper-file binary source."""

from .tables import TABLE_NAMES, load_table  # noqa: F401
