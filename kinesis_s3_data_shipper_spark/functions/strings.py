"""String derivations from the reference's enrichment/tagging logic.

The reference derives a ``logStreamPrefix`` tag as the first two
``/``-segments of a logStream path (kinesis-to-humio.py:137,
``'/'.join(logStream.split('/')[0:2])``). Python slicing makes the
edge semantics: no slash → whole string; one slash → whole string;
trailing slash → 'a/b/' stays 'a/b' only if b nonempty, 'a/' → 'a/'
(second segment is the empty string, joined as 'a/'). We reproduce
those exactly with JVM built-ins (no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


#: Spark SQL spelling of the derivation: exactly
#: ``'/'.join(s.split('/')[0:2])`` including empty-segment edge cases,
#: because Spark's ``slice`` past the array end truncates just like
#: Python list slicing, and ``array_join`` keeps empty strings (unlike
#: ``concat_ws``, which would drop them — wrong for a trailing-slash
#: input like ``'a/'``). A SQL string, so a whole projection can be one
#: ``selectExpr``: one driver call, where Column objects cost one each.
SPARK_SQL_STREAM_PREFIX = "array_join(slice(split({col}, '/', -1), 1, 2), '/')"


def spark_sql_stream_prefix(col_expr: str) -> str:
    return SPARK_SQL_STREAM_PREFIX.format(col=col_expr)


def stream_prefix(col_expr: str) -> Column:
    """First two '/'-segments of a path, re-joined with '/'."""
    return F.expr(spark_sql_stream_prefix(col_expr))


#: DuckDB spelling of the same derivation (kept adjacent on purpose).
#: list_slice clamps like Python; array_to_string keeps empty strings.
SQL_STREAM_PREFIX = "array_to_string(string_split({col}, '/')[1:2], '/')"


def sql_stream_prefix(col_expr: str) -> str:
    return SQL_STREAM_PREFIX.format(col=col_expr)
