"""Merge several full_sweep logs (one sweep sharded across processes)
into a single per-query verdict table: OK/FAIL/missing per registered
query. Usage: python tools/merge_sweep_logs.py <log> [<log> ...]

A query may appear in several logs (processes race toward each other);
any FAIL wins over OK so a real divergence can never be masked by a
duplicate pass elsewhere.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries  # noqa: E402

ok: dict[str, str] = {}
fail: dict[str, str] = {}
for path in sys.argv[1:]:
    try:
        text = open(path, errors="replace").read().replace("\r", "\n")
    except OSError:
        continue
    for line in text.splitlines():
        m = re.match(r"OK(\(digest\)|\(rows-only\))? (\S+)", line)
        if m:
            ok.setdefault(m.group(2), line.strip())
            continue
        m = re.match(r"FAIL\(\w[\w-]*\) (\S+)", line)
        if m:
            fail[m.group(1)] = line.strip()

names = sorted(all_queries())
missing = [n for n in names if n not in ok and n not in fail]
really_ok = [n for n in names if n in ok and n not in fail]
print(f"registry: {len(names)}  ok: {len(really_ok)}  fail: {len(fail)}  missing: {len(missing)}")
for n, line in sorted(fail.items()):
    print("FAIL:", line)
if missing:
    print("missing:", ",".join(missing))
