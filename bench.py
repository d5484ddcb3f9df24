"""Benchmark harness (SURVEY.md §2 O15/O16 analog of
performance_analyzer.py): times the headline queries at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line. Also reproduces the reference's create-vs-reuse partition-cache
benchmark (BASELINE.md: >=1.27x speedup target).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (scan, join, filter+pushdown,
# agg, explode-agg) plus extension families as they land.
HEADLINE = [
    "o02_broadcast_join",
    "o03_band_filter",
    "o07_pushdown_scan",
    "o09_avg_int_trunc",
    "o12_explode_histogram",
    "agg_pricing_summary",
    "join_revenue_topk",
    "join_region_revenue",
    "window_topk_per_group",
    "window_lag_lead_ntile",
    "subq_in_having",
    "join_outer_count_histogram",
    "rollup_hourly_to_daily",
    "grouped_linreg_trend",
    "dedup_minhash_lsh",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "sim_cosine_topk",
    "sim_cosine_topk_arrow",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "sim_ann_pq",
    "subq_scalar_avg",
    "text_fingerprint",
    "text_bpe_token_count",
    "text_tfidf_topterm",
    "pipeline_clean_corpus",
    "pack_sequences",
    "contamination_ngram",
    "quality_repetition",
    "stream_tumbling_counts",
    "graph_pagerank",
    "cluster_kmeans",
    "scd2_order_priority",
    "pii_scrub_events",
    "text_posting_lists",
    "anomaly_zscore_orders",
    "chunk_documents",
    "gapfill_locf",
    "twa_user_value",
    "udaf_weighted_median",
    "window_weighted_median",
    "dedup_embedding_lsh",
    "dedup_substring_spans",
    "dedup_incremental_minhash",
    "sim_ann_lsh_batch",
    "mix_weighted_budget",
    "layout_bucketed_join",
    "layout_dynamic_partition_pruning",
    "layout_zorder_pruning",
    "quality_lm_bigram",
    "dedup_semantic",
    "dedup_incremental_semantic",
    "sketch_histogram_quantiles",
    "gapfill_interpolate",
    "anomaly_mad_orders",
    "quality_char_entropy",
    "pipeline_training_corpus",
    "rollup_ohlc",
    "dedup_winnowing_overlap",
    "text_sparse_cosine_pairs",
    "sim_mmr_diversify",
    "sketch_bloom_membership",
    "graph_triangle_count",
    "events_markov_transitions",
    "sim_grid_neighbors",
    "rollup_downsample_extrema",
    "audit_table_checksums",
    "pipeline_embedding_curation",
    "stats_ks_two_sample",
    "sample_poisson_bootstrap",
    "multimodal_y4m_frames",
    "agg_skyline_2d",
    "agg_gini_concentration",
    "text_zipf_fit",
    "dedup_containment_prefix",
    "anomaly_mad_sketch",
    "stats_ks_sketch",
    "stats_mwu_sketch",
    "mix_temperature_sampling",
    "rollup_incremental_refresh",
    "events_dau_hll",
    # Round-10 lakehouse DML additions: the CDF consumer path and the
    # clustered-OPTIMIZE skipping path are maintenance costs a 100 TB
    # deployment pays routinely — track them per-round like any query.
    "format_txlog_cdf",
    "format_txlog_ivm",
    "format_txlog_zorder",
    # Round-12: embedding-space decontamination (semantic sibling of
    # contamination_ngram; broadcast map-side pass, |eval| output rows).
    "contamination_semantic",
    "contamination_semantic_profile",
]


def _time(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def _spin_quarter_s(_i: int) -> int:
    """Module-level (picklable) busy loop for the steal probe pool."""
    t0 = time.monotonic()
    x = 0
    while time.monotonic() - t0 < 0.25:
        x += 1
    return x


def _box_state() -> dict:
    """Load + co-resident-workload snapshot, taken BEFORE the session
    starts. Round-11 lesson: the driver benched while a 24-core sf10
    sweep owned the box — total inflated 1.21x and 7 untouched queries
    read as >2x regressions; the artifact carried no way to tell. A
    contaminated BENCH must be self-identifying: refuse outright when
    our own tooling holds a live pidfile (tools/busy.py handshake),
    and WARN-tag the artifact when load or foreign Spark/DuckDB
    processes say the box is not quiet."""
    sys.path.insert(0, str(Path(__file__).resolve().parent / "tools"))
    from busy import foreign_spark_procs, live

    def _steal_pct_and_spin() -> tuple[float, float, int]:
        """Fixed CPU microbenchmark + KVM steal measurement, ~4 s.

        Round-12 finding: an idle-box re-bench still read 1.31x slower
        (median, 87 keys) than the r10 artifact, and tools/ab_bench.py
        proved it host-side — r10's OWN CODE timed 2.6x its recorded
        number on the same queries (contamination_ngram 0.641 s vs the
        committed 0.245 s). /proc/stat showed 4.7% steal idle, 9% under
        32-wide load with a 1.5x per-core throughput spread: the VM
        host is oversubscribed and its speed varies BY DAY. Absolute
        cross-round query-seconds are therefore not comparable unless
        the artifact carries the box's measured speed; this records a
        deterministic single-core workload (sha256 over fixed bytes)
        and the steal fraction under a brief full-width spin, so
        drift adjudication can normalize before flagging code.
        """
        import hashlib
        import multiprocessing as _mp

        def _stat():
            with open("/proc/stat") as f:
                return list(map(int, f.readline().split()[1:9]))

        t0 = time.monotonic()
        h = b"\x00" * 64
        for _ in range(200_000):
            h = hashlib.sha256(h).digest()
        sha_s = time.monotonic() - t0
        before = _stat()
        try:
            with _mp.Pool(os.cpu_count() or 8) as pool:
                pool.map(_spin_quarter_s, range(os.cpu_count() or 8))
        except Exception:
            pass
        after = _stat()
        d = [b - a for a, b in zip(before, after)]
        steal = round(100.0 * d[7] / max(1, sum(d)), 2)
        return round(sha_s, 4), steal, 200_000

    load1, load5, load15 = os.getloadavg()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sha_s, steal_pct, sha_n = _steal_pct_and_spin()
    state = {
        "loadavg": [round(load1, 2), round(load5, 2), round(load15, 2)],
        "busy_pidfiles": live(),
        "foreign_procs": foreign_spark_procs(),
        # Deterministic workload: seconds for sha256 chained sha_n
        # times on one core. Cross-round ratio of this number is the
        # box-speed correction factor for query-seconds.
        "cpu_sha256_s": sha_s,
        "cpu_sha256_n": sha_n,
        "steal_pct_loaded": steal_pct,
        "contended": False,
    }
    if state["busy_pidfiles"] and os.environ.get("SPARK_GRAFT_BENCH_FORCE", "0") != "1":
        # Don't hard-fail on first sight: the caller may be the driver's
        # round-close bench, and a missing BENCH artifact is worse than a
        # delayed one. Wait (bounded) for the claimants to finish — they
        # are our own finite sweeps/probes — and only refuse if the box
        # is still owned after the window.
        wait_s = int(os.environ.get("SPARK_GRAFT_BENCH_WAIT_S", "2700"))
        t_wait = time.monotonic()
        while state["busy_pidfiles"] and time.monotonic() - t_wait < wait_s:
            print(
                f"bench: waiting for {len(state['busy_pidfiles'])} live "
                f"claimant(s) ({int(time.monotonic() - t_wait)}s/"
                f"{wait_s}s): {state['busy_pidfiles'][0][:100]}",
                file=sys.stderr,
            )
            time.sleep(30)
            state["busy_pidfiles"] = live()
        if state["busy_pidfiles"]:
            print(json.dumps({
                "error": "refusing to bench: live sweep/probe pidfile(s) own the box "
                         "(set SPARK_GRAFT_BENCH_FORCE=1 to override)",
                "busy_pidfiles": state["busy_pidfiles"],
            }))
            sys.exit(4)
        state["waited_for_claimants_s"] = round(time.monotonic() - t_wait, 1)
    # Contention heuristic: 1-min load beyond what background noise
    # explains, or an unclaimed Spark JVM / sweep process running.
    state["contended"] = bool(
        state["busy_pidfiles"] or state["foreign_procs"] or load1 > max(4.0, cpus / 4)
    )
    if state["contended"]:
        print(f"WARNING: box not quiet at bench start — {state}", file=sys.stderr)
    return state


def main() -> None:
    from data_pipeline_with_hdfs_sql_integration_spark import catalog
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries
    from data_pipeline_with_hdfs_sql_integration_spark.session import get_spark

    box = _box_state()
    spark = get_spark("dps-bench")
    specs = all_queries()

    # Cold-store pre-pass (default ON): drop this SF's published
    # derived stores so every build happens IN this process and lands
    # in STORE_BUILD_TIMES. With /tmp warm across driver rounds, every
    # store access is a cache hit and store_build_s committed as {}
    # (round 10) — losing the round-6 contract that index-build cost
    # is separable from query cost. Builds are paid by the warmup
    # runs, never by a timed pass. Set SPARK_GRAFT_BENCH_COLD_STORES=0
    # when another process shares this SF's stores.
    if os.environ.get("SPARK_GRAFT_BENCH_COLD_STORES", "1") != "0":
        catalog.clear_derived_stores(SF_DIR)

    # Warm the JVM / codegen before timing.
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()

    # Partition-cache create vs reuse FIRST, before the 70+ headline
    # queries age the session (round-5 lesson: timed last, cache_create
    # doubled purely from end-of-session GC/state pressure — the
    # operator's own plan was unchanged). Reference benchmark shape:
    # performance_analyzer.py:36-67, 5 keys, cold then warm. The
    # create→reuse RATIO is the designated reproducible metric
    # (BASELINE.md), and a one-shot measurement of sub-second runs is
    # GC-noise-vulnerable — so take the min of repeated passes:
    # reuse is idempotent, and create repeats via invalidate().
    from data_pipeline_with_hdfs_sql_integration_spark.plans.cache_queries import CACHE_KEYS, build_cache

    timings: dict[str, float] = {}
    cache = build_cache(spark, SF_DIR, tempfile.mkdtemp(prefix="dps_bench_cache_"))
    # Two unmeasured create+invalidate passes warm the whole create
    # path (codegen for the pruned scan, the parquet write pipeline,
    # JIT) exactly like the headline warmups — the cache bench runs
    # FIRST in the session, so the first couple of passes still carry
    # JVM warmup that is not the operator's cost.
    # r13: both passes drive the 5 keys through calc_avg_many (3 jobs
    # in flight, guide §2.6) instead of a sequential comprehension —
    # the same five per-key create/reuse state machines, overlapped so
    # a key's write/scan tail back-fills. DISCLOSED harness change
    # (VERDICT r12 item 5): applied symmetrically to create AND reuse,
    # so the create→reuse ratio stays like-for-like; the r13 session
    # baseline under the OLD sequential harness was create 1.057 /
    # reuse 0.426 (see OPTIMIZATION_r13.md), concurrent same-session
    # A/B: create 0.98-1.27→0.42, reuse 0.32-0.54→0.15.
    for _ in range(2):
        cache.calc_avg_many(CACHE_KEYS)
        cache.invalidate()
    creates = []
    for _ in range(4):
        creates.append(_time(lambda: cache.calc_avg_many(CACHE_KEYS)))
        cache.invalidate()
    # One more create so the reuse passes below have partitions to hit.
    cache.calc_avg_many(CACHE_KEYS)
    t_create = min(creates)
    reuses = [_time(lambda: cache.calc_avg_many(CACHE_KEYS)) for _ in range(3)]
    t_reuse = min(reuses)
    timings["cache_create"] = t_create
    timings["cache_reuse"] = t_reuse
    cache_passes = {
        "cache_create": [round(t, 4) for t in creates],
        "cache_reuse": [round(t, 4) for t in reuses],
    }

    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    passes: dict[str, list[float]] = {}
    cold_s: dict[str, float] = {}
    for name in HEADLINE:
        if name not in specs:
            continue
        spark.sparkContext.setJobDescription(f"bench:{name}")
        df = specs[name].fn(spark, SF_DIR)
        # noop sink: full materialization, no collect/driver cost.
        run = lambda: df.write.format("noop").mode("overwrite").save()
        if warmup:
            # First run pays codegen/JIT compilation (and any cold
            # derived-store build, which lands in store_build_s, not in
            # the timing); report warm throughput
            # (set SPARK_GRAFT_BENCH_WARMUP=0 for cold).
            run()
        # Min of two timed passes: a single stop-the-world GC pause
        # landing inside the one measured run shows up as a phantom
        # 3-5x "regression" on a sub-second query (observed:
        # graph_triangle_count 0.36 s vs 1.69 s across two sessions of
        # identical code). Both passes run equally warm — the warmup
        # already populated every persisted intermediate — so min is
        # the operator's cost, not cherry-picking. When the two passes
        # DISAGREE by >25% the noise question is live — take a third
        # pass so the min stands on 2-of-3 evidence, and record every
        # pass in BENCH_DETAIL so cross-round drift adjudication is
        # data, not forensics (round-8 lesson: two dedup queries read
        # as 1.5-2x regressions on unchanged code).
        ps = [_time(run), _time(run)]
        if max(ps) > 1.25 * min(ps):
            ps.append(_time(run))
        passes[name] = [round(p, 4) for p in ps]
        timings[name] = min(ps)
        # Cold-pass honesty column (r13, VERDICT r12 item 8): for a
        # query whose warm number rides persisted intermediates, also
        # record ONE pass with every cache dropped — the true
        # first-execution cost, the number that matters when the
        # MEMORY_AND_DISK re-read is not free. Detection is exact:
        # the session's CacheManager is non-empty iff this query
        # persisted something (the loop clears it between queries).
        # Derived on-disk stores stay warm — their build cost is
        # already separated into store_build_s. The query is REBUILT
        # after the cache drop: every .save() re-optimizes its plan
        # against the live CacheManager, so re-running the old
        # DataFrame after clearCache would measure a barrier-less
        # pathological plan (persist barriers vanish, filters push
        # back below the parallelizing exchanges — observed 900 s
        # "cold" passes at sf1 that no real first execution pays);
        # a fresh construction re-registers the memo barriers and
        # pays their materialization inside the timed run, exactly
        # like a user's first query in a new session. Additive only:
        # the one-line JSON and the warm `queries` map are unchanged.
        if os.environ.get("SPARK_GRAFT_BENCH_COLD", "1") != "0" and not (
            spark._jsparkSession.sharedState().cacheManager().isEmpty()
        ):
            catalog.release_all(spark)
            cold_df = specs[name].fn(spark, SF_DIR)
            cold_s[name] = round(
                _time(lambda: cold_df.write.format("noop").mode("overwrite").save()), 4
            )
        # Query-scoped pins (catalog.pin) and memo entries outlive the
        # query function — across 79 queries the leftovers would
        # accumulate into eviction/GC churn (round 5: the whole session
        # ~31% slower). release_all unpersists every pin and clears the
        # cache, bounding cached memory at one query's working set;
        # memo_persist re-persists shared bases on demand, so each
        # query's warmup re-materializes what it needs and the timed run
        # still measures the warm path.
        catalog.release_all(spark)
    spark.sparkContext.setJobDescription(None)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # ANN quality next to ANN speed: recall@10 of each approximate tier
    # against the exact brute-force ranking at the same SF — a latency
    # number for an index that returns the wrong neighbors is noise.
    exact10 = [r["vec_id"] for r in specs["sim_cosine_topk"].fn(spark, SF_DIR).collect()][:10]
    recalls = {}
    for name in ("sim_ann_lsh", "sim_ann_ivf", "sim_ann_pq"):
        got = [r["vec_id"] for r in specs[name].fn(spark, SF_DIR).collect()][:10]
        recalls[name] = round(len(set(got) & set(exact10)) / 10, 3)
    # SemDeDup honesty metrics. single_probe_ceiling = share of exact
    # above-threshold duplicate pairs whose endpoints land in the SAME
    # primary k-means cell — the detection ceiling a P=1 single-probe
    # search could reach. It is EXPECTED-LOW by construction (near-dup
    # pairs cluster at cell boundaries; see SCALE.md "SemDeDup recall
    # anatomy") and is NOT the shipped quality: the default P=3
    # multi-probe searches neighbor cells precisely because of it —
    # dedup_semantic_detection is the number a user feels (gated 0.75).
    cells = {
        r["vec_id"]: r["cell_id"]
        for r in specs["dedup_semantic"].fn(spark, SF_DIR).collect()
    }
    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in specs["dedup_embedding_cosine"].fn(spark, SF_DIR).collect()
    ]
    if pairs:
        co = sum(1 for a, b in pairs if cells.get(a) == cells.get(b))
        recalls["dedup_semantic_single_probe_ceiling"] = round(co / len(pairs), 3)
        # End-to-end detection: share of ground-truth pairs whose
        # higher-id endpoint the dedup actually drops — the number a
        # user feels. The default is P=3 multi-probe (floor 0.75); the
        # explicit 2-probe variant shows the cheaper ladder rung.
        base_keep = {
            r["vec_id"]: r["keep"]
            for r in specs["dedup_semantic"].fn(spark, SF_DIR).collect()
        }
        p2_keep = {
            r["vec_id"]: r["keep"]
            for r in specs["dedup_semantic_probe2"].fn(spark, SF_DIR).collect()
        }
        recalls["dedup_semantic_detection"] = round(
            sum(1 for a, b in pairs if base_keep.get(max(a, b)) == 0) / len(pairs), 3
        )
        # CEILING, not a gated metric (same class as
        # single_probe_ceiling): what the cheaper P=2 probe detects,
        # shown as the cost/recall ladder rung below the shipped P=3.
        # Expected to sit WELL below the 0.75 detection gate — see
        # SCALE.md "SemDeDup recall anatomy" for the expected range
        # and why boundary pairs need the third probe.
        recalls["dedup_semantic_probe2_ceiling"] = round(
            sum(1 for a, b in pairs if p2_keep.get(max(a, b)) == 0) / len(pairs), 3
        )

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total = round(sum(timings.values()), 4)
    speedup = round(t_create / t_reuse, 3) if t_reuse > 0 else None

    # Full per-query record → a committed file (the driver's stdout
    # capture keeps only the final ~2 KB; round 5's one-line dump
    # outgrew it and the artifact became unparseable).
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 4) for k, v in timings.items()},
        # Every timed pass per query (min is what `queries` reports):
        # drift adjudication across rounds needs the spread, not just
        # the min (round-8 lesson).
        "passes": {**cache_passes, **passes},
        "sf": sf_val,
        "cache_speedup": speedup,
        "ann_recall_at_10": recalls,
        # One cache-dropped pass per persist-using query (r13): the
        # warm min above reports steady-state cost; this column is the
        # first-execution cost including every persist rebuild.
        "cold_s": cold_s,
        # Cold derived-store build seconds (empty when /tmp was warm):
        # localizes any "query X got slower" to "no — its store rebuilt".
        "store_build_s": dict(catalog.STORE_BUILD_TIMES),
        # Box snapshot at bench start: loadavg + any co-resident
        # sweep/Spark/DuckDB workload. contended=true marks the whole
        # artifact as suspect for cross-round perf comparison.
        "box": box,
    }
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    detail_path.write_text(json.dumps(detail, indent=1) + "\n")

    # Reference parity (performance_analyzer.py:85-125): refresh the
    # CSV + chart artifacts under outputs/ from the detail just
    # written. Stdlib-only SVG; never lets a report bug fail the bench.
    try:
        sys.path.insert(0, str(Path(__file__).resolve().parent / "tools"))
        from perf_report import write_report

        write_report(detail_path, Path(__file__).resolve().parent / "outputs")
    except Exception as exc:  # pragma: no cover - report is best-effort
        print(f"perf_report failed (bench result stands): {exc}", file=sys.stderr)

    # Compact summary as the FINAL line — guaranteed to fit the tail
    # capture whole. The `queries` map carries only the cache pair plus
    # the 5 slowest headline queries; the complete map lives in
    # BENCH_DETAIL.json (path echoed in `detail`).
    slowest = dict(
        sorted(
            ((k, round(v, 4)) for k, v in timings.items() if not k.startswith("cache_")),
            key=lambda kv: -kv[1],
        )[:5]
    )
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {
            "cache_create": round(t_create, 4),
            "cache_reuse": round(t_reuse, 4),
            **slowest,
        },
        # Headline queries only — the cache_create/cache_reuse bench
        # pair is reported separately, not part of the query count.
        "n_queries": sum(1 for k in timings if not k.startswith("cache_")),
        "sf": sf_val,
        "cache_speedup": speedup,
        "ann_recall_at_10": recalls,
        "detail": detail_path.name,
    }
    if box["contended"]:
        out["contended"] = True  # artifact self-identifies as suspect
    print(json.dumps(out))


if __name__ == "__main__":
    main()
