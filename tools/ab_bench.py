"""Code A/B: time the SAME queries in the CURRENT tree and at a git
REF, same box, same minute, identical fresh-session shape — the
drift-adjudication protocol COVERAGE.md's round-10 section proved out
(cross-round BENCH artifacts compare run-shape to run-shape; only a
code-vs-code A/B decides whether a flagged regression is code).

Usage:
    python tools/ab_bench.py <ref> q1,q2,... [sf_dir]

For each tree (current first, then `git worktree add <ref>`), a
SUBPROCESS imports that tree's __spark_entry__, builds the engine
session (that tree's session.get_spark — each tree times under its
own confs, like its round's bench did), runs 1 warmup + 3 timed
noop-sink passes per query and prints min/all. The parent prints the
side-by-side table. Derived stores are cleared before EACH tree's
run so both pay cold builds in warmup, not in timed passes.
"""
import json
import os
import subprocess
import sys

RUNNER = r"""
import json, os, sys, time
tree = sys.argv[1]; sf = sys.argv[2]; names = sys.argv[3].split(",")
sys.path.insert(0, tree)
from data_pipeline_with_hdfs_sql_integration_spark.session import get_spark
from data_pipeline_with_hdfs_sql_integration_spark import catalog
import __spark_entry__ as e
spark = get_spark("ab-bench")
qs = e.queries()
try:
    catalog.clear_derived_stores(sf)
except AttributeError:
    pass  # older trees predate the cold-store pre-pass
spark.read.parquet(f"{sf}/nation.parquet").count()
out = {}
for name in names:
    df = qs[name](spark, sf)
    run = lambda: df.write.format("noop").mode("overwrite").save()
    run()
    ts = []
    for _ in range(3):
        t0 = time.monotonic(); run(); ts.append(round(time.monotonic() - t0, 4))
    out[name] = ts
    try:
        catalog.release_all(spark)
    except AttributeError:  # older trees predate catalog.release_all
        spark.catalog.clearCache()
print("ABRESULT " + json.dumps(out))
"""


def run_tree(tree: str, sf: str, names: str) -> dict:
    env = dict(os.environ, PYTHONPATH=tree)
    p = subprocess.run(
        [sys.executable, "-c", RUNNER, tree, sf, names],
        capture_output=True, text=True, env=env, cwd=tree,
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    print(p.stdout[-2000:], p.stderr[-2000:], sep="\n", file=sys.stderr)
    raise SystemExit(f"no ABRESULT from {tree}")


def main() -> None:
    ref, names = sys.argv[1], sys.argv[2]
    sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wt = f"/tmp/ab_tree_{ref.replace('/', '_')}"
    if not os.path.isdir(wt):
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, ref],
            cwd=repo, check=True,
        )
    cur = run_tree(repo, sf, names)
    old = run_tree(wt, sf, names)
    print(f"\n{'query':<36} {'cur(min)':>9} {'ref(min)':>9} ratio  cur_passes / ref_passes")
    for n in names.split(","):
        c, o = min(cur[n]), min(old[n])
        print(f"{n:<36} {c:>9.3f} {o:>9.3f} {c / o:>5.2f}  {cur[n]} / {old[n]}")


if __name__ == "__main__":
    main()
