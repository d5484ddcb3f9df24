"""Summarise a traced run: per-layer self time from its span dump and
the tracing overhead against the untraced run of the same workload and
seed.

    python3 perfbench/report.py .perfbench_work/results/<workload>-s<seed>.spans.jsonl
"""

from __future__ import annotations

import json
import sys
from pathlib import Path


def overhead(untraced: dict, traced: dict) -> dict[str, float]:
    """Traced value over untraced value, per shared end-to-end metric."""
    return {k: traced[k] / v for k, v in untraced.items() if not k.startswith("_") and v and k in traced}


def print_layers(spans, layers: dict | None = None, over: dict | None = None) -> None:
    from perfbench.spans import layer_summary

    print(f"{'span':>34} {'calls':>7} {'total_s':>10} {'self_s':>10}")
    for name, row in layer_summary(spans).items():
        print(f"{name:>34} {row['calls']:7d} {row['total_s']:10.4f} {row['self_s']:10.4f}")
    for k, v in (layers or {}).items():
        print(f"{k:>34} {v:14.4f}")
    if over:
        print("tracing overhead (traced / untraced): "
              + ", ".join(f"{k}={v:.3f}" for k, v in over.items()))


def main() -> None:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from perfbench.spans import load

    path = Path(sys.argv[1])
    layers = over = None
    stem = path.name.removesuffix(".spans.jsonl")
    traced, untraced = path.with_name(f"{stem}-t1.json"), path.with_name(f"{stem}-t0.json")
    if traced.exists():
        rec = json.loads(traced.read_text())
        layers = rec["per_layer"]
        if untraced.exists():
            over = overhead(json.loads(untraced.read_text())["end_to_end"], rec["end_to_end"])
    print_layers(load(str(path)), layers, over)


if __name__ == "__main__":
    main()
