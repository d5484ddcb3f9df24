"""Capture .explain('formatted') for headline queries into
plans/<round>/<query>_<tag>.txt (tag = before|after, say). Usage:

    python tools/dump_plans.py r13 before [name1,name2,...]

With no name list, captures every bench.py HEADLINE query. Plans are
built under the engine session (session.get_spark) — the same confs
the bench times under — and stores are built on demand exactly like a
bench warmup, so the captured plan is the one the timed pass runs.
Session state is released between queries (catalog.release_all), as
bench.py does, so one query's persisted relations never show up in the
next one's plan.
"""
import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    from bench import HEADLINE
    from data_pipeline_with_hdfs_sql_integration_spark import catalog
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries
    from data_pipeline_with_hdfs_sql_integration_spark.session import get_spark

    names = sys.argv[3].split(",") if len(sys.argv) > 3 else HEADLINE
    out_dir = Path(__file__).resolve().parent.parent / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"dps-{rnd}-plans")
    specs = all_queries()
    for name in names:
        if name not in specs:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        try:
            df = specs[name].fn(spark, SF)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (out_dir / f"{name}_{tag}.txt").write_text(buf.getvalue())
            print(f"wrote {name}_{tag}.txt")
        except Exception as exc:  # keep sweeping; a broken plan is a finding
            (out_dir / f"{name}_{tag}.txt").write_text(f"EXPLAIN FAILED: {exc}\n")
            print(f"FAILED {name}: {exc}", file=sys.stderr)
        catalog.release_all(spark)


if __name__ == "__main__":
    main()
