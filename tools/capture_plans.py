#!/usr/bin/env python
"""Capture ``explain("formatted")`` output for queries into files:
one ``<out_dir>/<query>_<suffix>.txt`` per query, with ``out_dir``
created if missing (e.g. suffixes ``before``/``after`` around a change).

Usage:
    python tools/capture_plans.py <sf_dir> <out_dir> <suffix> [names...]
    python tools/capture_plans.py --bench <sf_dir> <out_dir> <suffix> [qnames...]

Default mode: plain-profile session over raw testdata (the driver's
correctness environment) for registry queries.

--bench mode: the bench.py environment (latency profile, ingested
warehouse, cached tables) for the q1..q8 bench entries, so the captured
plan is the one the timed run actually executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    bench_mode = args and args[0] == "--bench"
    if bench_mode:
        args = args[1:]
    sf_dir, out_dir, suffix = args[0], args[1], args[2]
    names = args[3:]
    os.makedirs(out_dir, exist_ok=True)

    if bench_mode:
        os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
        import bench
        from cds_etl_spark.session import (
            LOCAL_LATENCY_LARGE_DATA_BYTES,
            get_spark,
        )

        data_bytes = bench._dir_bytes(sf_dir)
        spark = get_spark(
            "capture_plans", local_latency=True, data_bytes=data_bytes
        )
        data_dir = bench.ingest(spark, sf_dir)
        large = data_bytes >= LOCAL_LATENCY_LARGE_DATA_BYTES
        if not large:
            from cds_etl_spark.catalog import TABLES

            for t in TABLES:
                spark.catalog.cacheTable(f"bench_{t}")
                spark.table(f"bench_{t}").count()
        queries = bench.BENCH_QUERIES
        names = names or list(queries)
    else:
        from cds_etl_spark.plans import QUERIES
        from cds_etl_spark.session import get_spark

        spark = get_spark()
        data_dir = sf_dir
        queries = QUERIES
        if not names:
            raise SystemExit("name at least one registry query")

    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = queries[name](spark, data_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
