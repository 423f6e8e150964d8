#!/usr/bin/env python
"""Capture ``explain("formatted")`` for named queries into plan files.

Usage::

    python scripts/capture_plans.py <outdir> <suffix> <query> [<query>...]

Writes ``<outdir>/<query>_<suffix>.txt`` for each query — the
before/after plan evidence the optimization rounds commit under
``plans/r13/``.  Builds its session with ``session.get_session``, as
``bench.py`` does, so plan choices (join strategy, AQE nodes) match
what the bench sees.  Queries whose function body
executes side work (staging writes, streaming drains, checkpoints) run
that work here too — the captured plan is the returned DataFrame's,
which is what the timed action executes.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from kinesis_s3_data_shipper_spark.session import get_session
    spark = get_session("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    from kinesis_s3_data_shipper_spark.plans import all_queries
    queries = all_queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
