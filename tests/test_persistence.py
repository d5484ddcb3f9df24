"""Persisted intermediates exist in one place.

catalog.py is the only module that persists a DataFrame (memo_persist
for session scope, pin for query scope). The lint below fails on any
other `.persist(` / `.cache()` in the package, except the allowlisted
function-scoped pairs: frames that are unpersisted before the function
that built them returns, where deferring the release to the end of the
query would only hold memory longer.
"""
from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "data_pipeline_with_hdfs_sql_integration_spark"

PERSIST = re.compile(r"\.persist\(|\.cache\(\)")

# module path (relative to the package) -> why its one persist is local
FUNCTION_SCOPED = {
    "operators/maintenance.py": "watermark batch: count, write and max must "
    "see one evaluation of the source; unpersisted in the same finally",
    "plans/text_analysis.py": "BPE `words` loop: each merge round's frame is "
    "unpersisted once the next round is checkpointed",
    "plans/similarity.py": "IVF-PQ store build: `al1` is unpersisted before "
    "the store publishes",
}


def _persist_hits() -> dict[str, list[str]]:
    hits: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "catalog.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if PERSIST.search(code):
                hits.setdefault(rel, []).append(f"{rel}:{i}: {line.strip()}")
    return hits


def test_persists_only_in_catalog():
    hits = _persist_hits()
    stray = [h for rel, lines in hits.items() if rel not in FUNCTION_SCOPED for h in lines]
    assert not stray, (
        "persist outside catalog.py — use catalog.pin (query scope) or "
        "catalog.memo_persist (session scope):\n" + "\n".join(stray)
    )


def test_function_scoped_allowlist_is_exact():
    """Each allowlisted module holds exactly one persist, paired with an
    unpersist — so the allowlist cannot silently cover a second site."""
    hits = _persist_hits()
    for rel in FUNCTION_SCOPED:
        assert len(hits.get(rel, [])) == 1, (rel, hits.get(rel))
        assert ".unpersist(" in (PACKAGE / rel).read_text(), rel
