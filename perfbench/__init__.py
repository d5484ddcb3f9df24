"""The repository's benchmark: seeded workloads, end-to-end metrics from
untraced runs, per-layer metrics from traced runs. See README.md."""
