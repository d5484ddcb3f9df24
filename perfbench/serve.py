"""serve_calcavg: the reference's product, CalcAvgLoan over the JSON
service, as a closed loop of client threads.

Each refresh cycle runs DbToHdfs, then BlockLocations, then invalidates
the partition cache, then sends a seeded Zipf stream of CalcAvgLoan
requests over the 25 ``c_nationkey`` keys. Two seeded damage events per
cycle hit the cache's files between requests: one part file is
overwritten with garbage (a corrupt block) and one key's part files are
deleted (a lost DataNode). Every answer is checked against a truncated
mean computed with pyarrow over the freshly ingested main file.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from fractions import Fraction

from perfbench.harness import du, log
from perfbench.stats import median, tail

#: Fixture scale (sf0.1: 150k orders, about 6k per key).
SCALE = 0.1
N_CLIENTS = 3
N_KEYS = 25
REQUESTS_PER_CYCLE = 45
ZIPF_S = 1.1
#: Popularity ranks (0 = hottest) of the keys each cycle damages.
CORRUPT_RANK, DELETE_RANK = 1, 2
MIN_CYCLES = 2
KEY_COL, VALUE_COL = "c_nationkey", "o_totalprice"
BAND = (1000.0, 400000.0)


def hot_key_order(seed: int) -> list[int]:
    """Keys from hottest to coldest; the seed picks the permutation."""
    keys = list(range(N_KEYS))
    random.Random(seed).shuffle(keys)
    return keys


def zipf_counts(n: int) -> list[int]:
    """Requests per key rank: ``n`` apportioned by Zipf weights (largest
    remainder), so every cycle of every seed has the same skew."""
    w = [1.0 / (r + 1) ** ZIPF_S for r in range(N_KEYS)]
    quota = [n * x / sum(w) for x in w]
    counts = [int(q) for q in quota]
    by_remainder = sorted(range(N_KEYS), key=lambda r: (counts[r] - quota[r], r))
    for r in by_remainder[: n - sum(counts)]:
        counts[r] += 1
    return counts


def cycle_plan(seed: int, cycle: int) -> tuple[list[int], dict[int, tuple[str, int]]]:
    """The cycle's request keys and its damage schedule.

    The stream is the Zipf multiset of ``zipf_counts`` in a seeded
    order. Damage ``{i: (kind, key)}`` is applied just before request
    ``i`` is sent: the key of rank ``CORRUPT_RANK`` gets a corrupt part
    file and the key of rank ``DELETE_RANK`` loses its part files, each
    before its first request that comes at least two rounds of clients
    after its first one, so its partition normally exists by then."""
    rng = random.Random(seed * 1_000_003 + cycle)
    order = hot_key_order(seed)
    keys = [order[r] for r, c in enumerate(zipf_counts(REQUESTS_PER_CYCLE)) for _ in range(c)]
    rng.shuffle(keys)
    lag = 2 * N_CLIENTS
    damage = {}
    for kind, rank in (("corrupt", CORRUPT_RANK), ("delete", DELETE_RANK)):
        key = order[rank]
        first = keys.index(key)
        later = [i for i in range(first + lag, len(keys)) if keys[i] == key and i not in damage]
        damage[later[0] if later else min(first + lag, len(keys) - 1)] = (kind, key)
    return keys, damage


def truncated_means(main_path: str) -> dict[int, Fraction]:
    """Exact per-key mean of the ingested main file (pyarrow, not Spark).

    Prices carry two decimals, so sums of cents are exact integers."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(main_path, format="parquet").to_table(columns=[KEY_COL, VALUE_COL])
    cents = pc.cast(pc.round(pc.multiply(t[VALUE_COL], 100.0)), "int64")
    t = t.append_column("cents", cents)
    agg = t.group_by(KEY_COL).aggregate([("cents", "sum"), ("cents", "count")]).to_pydict()
    return {
        int(k): Fraction(s, 100 * c)
        for k, s, c in zip(agg[KEY_COL], agg["cents_sum"], agg["cents_count"])
    }


def answer_ok(got: int, exact: Fraction) -> bool:
    """The service truncates a double mean. A double sum over these rows
    is within 1e-6 of the exact mean, which only matters when the exact
    mean is a whole number; then one below it is also accepted."""
    want = int(exact)  # truncates toward zero, like Python int()
    return got == want or (exact.denominator == 1 and got == want - 1)


def _post(port: int, verb: str, body: dict) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/{verb}", data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return json.loads(resp.read())


def _damage(cache_root: str, kind: str, key: int, rng: random.Random) -> bool:
    """Apply one damage event; False when the key had no part files."""
    parts = sorted(glob.glob(os.path.join(cache_root, f"{KEY_COL}={key}", "part-*")))
    if not parts:
        return False
    try:
        if kind == "corrupt":
            size = os.path.getsize(parts[0])
            with open(parts[0], "wb") as f:
                f.write(rng.randbytes(max(size, 64)))
        else:
            for p in parts + glob.glob(os.path.join(cache_root, f"{KEY_COL}={key}", ".part-*")):
                os.remove(p)
    except FileNotFoundError:
        return False  # a concurrent create replaced the partition first
    return True


class ServeWorkload:
    def __init__(self, run) -> None:
        self.run = run
        self.tracer = run.tracer
        self.root = os.path.join(str(run.dir), "serve")
        self.main_path = os.path.join(self.root, "main.parquet")
        self.cache_root = os.path.join(self.root, "partitions")
        self.expected_rows = 0
        self.service = None
        self.ops: list[dict] = []  # one record per request
        self.cycles: list[dict] = []
        self.failures: list[str] = []
        self.wrong = 0
        self._lock = threading.Lock()

    # -- inputs and set-up ------------------------------------------------
    def make_inputs(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from perfbench.datagen import generate

        generate(self.run.data_dir, SCALE, self.run.seed, ("customer", "orders"))
        o = pq.read_table(os.path.join(self.run.data_dir, "orders.parquet"), columns=["o_totalprice"])
        price = o["o_totalprice"]
        self.expected_rows = pc.sum(pc.and_(pc.greater(price, BAND[0]), pc.less(price, BAND[1]))).as_py()

    def start(self, spark) -> None:
        """Warm-up query, then the service on this session."""
        from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline
        from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
        from data_pipeline_with_hdfs_sql_integration_spark.service import LenderHttpService

        spark.read.parquet(os.path.join(self.run.data_dir, "customer.parquet")).count()
        self.pipe = Pipeline(
            spark=spark, main_path=self.main_path, cache_root=self.cache_root,
            key_col=KEY_COL, value_col=VALUE_COL,
        )
        orders = load(spark, self.run.data_dir, "orders")
        cust = load(spark, self.run.data_dir, "customer").select("c_custkey", KEY_COL)
        self.service = LenderHttpService(
            self.pipe,
            db_to_store_fn=lambda: self.pipe.db_to_store(
                orders, band_col=VALUE_COL, band=BAND, dim=cust,
                join_on=orders.o_custkey == cust.c_custkey, attempts=1, sleep_s=0.0,
            ),
        )
        self.port = self.service.start()

    # -- one operation -----------------------------------------------------
    def _call(self, verb: str, body: dict) -> tuple[float, dict | None, str]:
        rid = body.get("request_id")
        with self.tracer.span("client.request", req=rid, verb=verb):
            t = time.perf_counter()
            try:
                resp, err = _post(self.port, verb, body), ""
            except Exception as exc:  # noqa: BLE001 — a transport failure is a failed op
                resp, err = None, f"{type(exc).__name__}: {exc}"
            return time.perf_counter() - t, resp, err

    def _fail(self, what: str) -> None:
        what = what.strip().splitlines()[0][:200]
        with self._lock:
            if len(self.failures) < 20:
                self.failures.append(what)

    def refresh(self, cycle: int, measured: bool) -> dict:
        """DbToHdfs, BlockLocations, invalidate; returns timings."""
        t0 = time.perf_counter()
        ingest_s, resp, err = self._call("DbToHdfs", {"request_id": f"c{cycle}-ingest"})
        want = f"Imported {self.expected_rows} rows"
        ok_ingest = resp is not None and resp["status"].startswith(want)
        blocks_s, bresp, berr = self._call("BlockLocations", {"path": "", "request_id": f"c{cycle}-blocks"})
        ok_blocks = bresp is not None and not bresp["error"] and sum(bresp["block_entries"].values()) > 0
        self.pipe.invalidate_cache()
        refresh_s = time.perf_counter() - t0
        if measured:
            if not ok_ingest:
                self._fail(f"DbToHdfs: {err or resp}")
                self.wrong += resp is not None
            if not ok_blocks:
                self._fail(f"BlockLocations: {berr or bresp}")
        return {"ingest_s": ingest_s, "blocks_s": blocks_s, "refresh_s": refresh_s,
                "ok": int(ok_ingest) + int(ok_blocks), "attempted": 2}

    def request_phase(self, cycle: int, keys: list[int], damage: dict, measured: bool) -> float:
        expected = truncated_means(self.main_path)
        rng = random.Random(self.run.seed * 7919 + cycle)
        nxt = iter(range(len(keys)))
        created: set[int] = set()

        def client() -> None:
            while True:
                with self._lock:
                    i = next(nxt, None)
                    if i is None:
                        return
                    if i in damage:
                        kind, key = damage[i]
                        applied = _damage(self.cache_root, kind, key, rng)
                        if measured:
                            self.cycles[-1]["damage"].append((kind, key, applied))
                key, rid = keys[i], f"c{cycle}-r{i}"
                lat, resp, err = self._call("CalcAvgLoan", {"county_code": key, "request_id": rid})
                if not measured:
                    continue
                source = (resp or {}).get("source", "")
                op = {"cycle": cycle, "rid": rid, "key": key, "lat": lat, "source": source or "error"}
                if resp is None or resp.get("error"):
                    self._fail(f"CalcAvgLoan({key}): {err or resp['error']}")
                    op["ok"] = False
                elif key not in expected or not answer_ok(int(resp["avg_loan"]), expected[key]):
                    self._fail(f"CalcAvgLoan({key}): got {resp['avg_loan']}, "
                               f"want {int(expected[key]) if key in expected else 'no rows'}")
                    op["ok"] = False
                    with self._lock:
                        self.wrong += 1
                else:
                    op["ok"] = True
                with self._lock:
                    if source == "create":
                        op["duplicate"] = key in created
                        created.add(key)
                    self.ops.append(op)

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=N_CLIENTS, thread_name_prefix="client") as pool:
            for f in [pool.submit(client) for _ in range(N_CLIENTS)]:
                f.result()  # a client that raised is a benchmark bug: fail loudly
        return time.perf_counter() - t0

    # -- the run -------------------------------------------------------------
    def measure(self, stats=None) -> None:
        # Cycle 0 runs unmeasured and half length: it pays the first
        # DbToHdfs and BlockLocations calls and warms the create, reuse
        # and recreate paths, so measured cycles start warm.
        keys, damage = cycle_plan(self.run.seed, 0)
        half = len(keys) // 2
        self.refresh(0, measured=False)
        self.request_phase(0, keys[:half], {i: d for i, d in damage.items() if i < half}, measured=False)
        t0 = time.perf_counter()
        cycle = 1
        while cycle <= MIN_CYCLES or time.perf_counter() - t0 < self.run.seconds:
            keys, damage = cycle_plan(self.run.seed, cycle)
            self.cycles.append({"damage": []})
            self.cycles[-1].update(self.refresh(cycle, measured=True))
            self.cycles[-1]["phase_s"] = self.request_phase(cycle, keys, damage, measured=True)
            self.cycles[-1]["requests"] = len(keys)
            cycle += 1
        log(f"serve: {cycle - 1} cycles, {len(self.ops)} requests in {time.perf_counter() - t0:.1f}s")

    # -- metrics -------------------------------------------------------------
    def counts(self) -> tuple[int, int]:
        attempted = len(self.ops) + sum(c["attempted"] for c in self.cycles)
        ok = sum(o["ok"] for o in self.ops) + sum(c["ok"] for c in self.cycles)
        return attempted, attempted - ok

    def end_to_end(self) -> dict[str, float]:
        # Latencies of answered requests; failures count in ``failed``.
        answered = [o for o in self.ops if o["ok"]]
        lat = [o["lat"] for o in answered]
        by = {s: [o["lat"] for o in answered if o["source"] == s] for s in ("create", "reuse", "recreate")}
        create_p50, reuse_p50 = median(by["create"]) * 1e3, median(by["reuse"]) * 1e3
        tail_pct, tail_s = tail(lat)
        return {
            "first_s": median(c["refresh_s"] for c in self.cycles),
            "warm_s": median(c["phase_s"] for c in self.cycles),
            "cold_p50_ms": create_p50,
            "warm_p50_ms": reuse_p50,
            "tail_ms": tail_s * 1e3,
            "ops_per_s": len(lat) / sum(c["phase_s"] for c in self.cycles),
            # Reported beside the metrics, not gated.
            "serve_p50_ms": median(lat) * 1e3,
            "_tail_pct": tail_pct,
            "cache_speedup": create_p50 / reuse_p50 if reuse_p50 else 0.0,
            "ingest_s": median(c["ingest_s"] for c in self.cycles),
            "block_report_s": median(c["blocks_s"] for c in self.cycles),
            "_requests": len(lat),
            "_cycles": len(self.cycles),
        }

    def layer_metrics(self, stats) -> dict[str, float]:
        """Per-layer numbers of a traced run (``run.py`` lists them)."""
        from data_pipeline_with_hdfs_sql_integration_spark import catalog

        from perfbench.spans import self_times

        out = {
            "catalog.store_build_s": sum(catalog.STORE_BUILD_TIMES.values()),
            "catalog.store_builds": len(catalog.STORE_BUILD_TIMES),
            "catalog.persisted_plans": stats.persisted_plans(),
            **stats.collect(lambda d: d.startswith("perfbench:req:c1-")),
        }
        # Outcome counts come from the responses' ``source``.
        n = {s: sum(o["source"] == s for o in self.ops) for s in ("create", "reuse", "recreate", "error")}
        for source in ("create", "reuse", "recreate"):
            out[f"partition_cache.{source}s"] = n[source]
        out["partition_cache.errors"] = n["error"]
        out["partition_cache.hit_ratio"] = n["reuse"] / max(1, len(self.ops))
        out["partition_cache.duplicate_creates"] = sum(o.get("duplicate", False) for o in self.ops)
        reuse_rids = {o["rid"] for o in self.ops if o["source"] == "reuse"}
        prefix = "perfbench:req:"
        reuse_jobs = stats.jobs(lambda d: d.startswith(prefix) and d[len(prefix):] in reuse_rids)
        out["partition_cache.jobs_per_reuse"] = len(reuse_jobs) / max(1, len(reuse_rids))
        out["partition_cache.bytes_on_disk"] = du(self.cache_root)
        out["api.main_bytes_on_disk"] = du(self.main_path)

        spans = [s for s in self.tracer.spans if s.req and not s.req.startswith("c0-")]
        for source in ("create", "reuse", "recreate"):
            out[f"partition_cache.{source}_ms"] = 1e3 * median(
                s.dur for s in spans
                if s.name == "partition_cache.calc_avg" and s.attrs.get("source") == source)
        selfs = self_times(self.tracer.spans)
        out["api.calc_avg_overhead_ms"] = 1e3 * median(selfs[s.id] for s in spans if s.name == "api.calc_avg")
        out["api.db_to_store_s"] = median(s.dur for s in spans if s.name == "api.db_to_store")
        out["api.block_report_s"] = median(s.dur for s in spans if s.name == "api.block_report")
        server = {s.req: s.dur for s in spans if s.name == "service.calc_avg_loan"}
        out["service.transport_ms"] = 1e3 * median(
            s.dur - server[s.req] for s in spans if s.name == "client.request" and s.req in server)
        return out

    @property
    def detail(self):
        return self.cycles

    def close(self) -> None:
        if self.service is not None:
            self.service.stop()
            self.service = None
