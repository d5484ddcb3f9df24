"""Quick per-query timing probe: fresh engine session, warmup + N
noop-sink passes per named query, bench-identical methodology.

    python tools/qtime.py q1,q2,... [--n 3] [--sf DIR]

Prints one line per query: min + all passes. Use for before/after
A/B during an optimization session (full bench.py for the record).
"""
import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from data_pipeline_with_hdfs_sql_integration_spark import catalog
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries
    from data_pipeline_with_hdfs_sql_integration_spark.session import get_spark

    spark = get_spark("dps-qtime")
    specs = all_queries()
    spark.read.parquet(f"{args.sf}/nation.parquet").count()
    for name in args.names.split(","):
        df = specs[name].fn(spark, args.sf)
        run = lambda: df.write.format("noop").mode("overwrite").save()
        run()  # warmup: codegen + store builds + persisted intermediates
        ts = []
        for _ in range(args.n):
            t0 = time.monotonic()
            run()
            ts.append(round(time.monotonic() - t0, 4))
        print(f"{name}: min={min(ts):.4f} passes={ts}", flush=True)
        catalog.release_all(spark)


if __name__ == "__main__":
    main()
