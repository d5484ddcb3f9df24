"""Per-key partition cache with create/reuse/recreate fault semantics.

Reference behavior (server.py:95-147, the CalcAvgLoan RPC):

- fast path: read ``/partitions/{key}.parquet`` → mean → source="reuse"
- ``FileNotFoundError`` → recompute from the main file, write the
  partition, source="create"
- other ``OSError`` (DataNode loss, corrupt file) → same recompute,
  source="recreate"
- empty key (NumPy mean of zero rows = NaN, ``int(NaN)`` raises) →
  caught and returned as an error (server.py:145-147)

Spark-native design: the cache is a Hive-style partitioned parquet
layout ``cache_root/<key_col>=<k>/`` so a reuse-path read is a direct
small-file scan (and a full-layout read gets partition pruning for
free). Replication tiering (reference: 2× main, 1× cache —
server.py:49 vs 135) is applied per write via the Hadoop FileSystem API
when the storage supports it.

State machine of ``calc_avg(k)``, for a partition ``cache_root/<key_col>=<k>``:

- **committed** means ``<key_col>=<k>/_SUCCESS`` exists. A directory
  holding only ``_temporary`` (a write in flight, or one that crashed)
  is not committed, so it takes the create path instead of answering
  "no rows" from an empty listing.
- **reuse** (lock-free): a committed partition is read with the pinned
  schema in one observed-avg job.
- **create**: nothing committed (server.py:113-116), also when the
  marker vanished during the read (an invalidate, or another writer).
- **recreate**: the partition is still committed but unreadable (a
  corrupt or lost file, server.py:118-121), or it reads zero rows —
  its part files are gone, e.g. a lost DataNode.
- create and recreate run under a per-key lock, so one key has at most
  one writer. A request that waited for the lock rereads the partition
  when another request rewrote it meanwhile, and answers ``reuse``.
- a key with no rows in main gets an empty partition that is rolled
  back, never committed, and an in-band error (server.py:145-147).
"""

from __future__ import annotations

import logging
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def delete_tree(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` (no-op when it does not exist)."""
    fs, hpath = _hadoop_fs(spark, path)
    fs.delete(hpath, True)


@dataclass
class CacheResult:
    key: object
    avg: int  # 0 when error (reference returns 0 with error set)
    source: str  # "create" | "reuse" | "recreate" | "" on error
    error: str = ""


class PartitionCache:
    """Materialized per-key query-result cache (SURVEY.md §2 O10/O11).

    Parameters
    ----------
    main : DataFrame
        The full dataset (the analog of /hdma-wi-2021.parquet).
    key_col, value_col : str
        Partition key and the column averaged by the flagship query.
    cache_root : str
        Directory for the per-key parquet partitions.
    replication : int
        Desired HDFS replication for cache files (reference uses 1×;
        ignored on filesystems without replication, e.g. file://).
    """

    def __init__(
        self,
        spark: SparkSession,
        main: DataFrame,
        key_col: str,
        value_col: str,
        cache_root: str,
        replication: int = 1,
    ) -> None:
        self.spark = spark
        self.main = main
        self.key_col = key_col
        self.value_col = value_col
        self.cache_root = cache_root.rstrip("/")
        self.replication = replication
        # Partition files carry main's schema minus the key column; pin
        # it so every reuse-path read skips driver-side schema inference
        # (one footer read per calc_avg otherwise).
        self._cache_schema = main.drop(key_col).schema
        # Per-partition-path writer locks and committed-write counts;
        # see the module docstring's state machine.
        self._locks: dict[str, threading.Lock] = {}
        self._locks_guard = threading.Lock()
        self._writes: dict[str, int] = {}

    # -- paths ---------------------------------------------------------
    def partition_path(self, key: object) -> str:
        return f"{self.cache_root}/{self.key_col}={key}"

    # -- internals -----------------------------------------------------
    def _avg_of(self, df: DataFrame) -> int | None:
        """AVG truncated toward zero like Python int() (server.py:109).

        Returns None for an empty input (NumPy-NaN analog).

        Computed as an observed metric over a noop-sink pass — ONE
        single-stage job (scan + running aggregate), mirroring the
        create path's Observation ride-along. The previous
        `.agg().collect()` planned a partial/final aggregate pair
        around an Exchange, which AQE then ran as separate per-stage
        jobs: ~2x the fixed per-job cost on every cache hit, and at
        scale a (tiny but real) shuffle the observation never needs.
        """
        from pyspark.sql import Observation

        obs = Observation()
        df.observe(obs, F.avg(self.value_col).alias("a")).write.format(
            "noop"
        ).mode("overwrite").save()
        a = obs.get["a"]
        return None if a is None else int(a)

    def _write_partition(self, subset: DataFrame, key: object) -> None:
        path = self.partition_path(key)
        # One key's subset is small by construction — coalesce(1) mirrors
        # the reference's single partition file per key (server.py:139-140).
        subset.drop(self.key_col).coalesce(1).write.mode("overwrite").parquet(path)
        self._set_replication(path)

    def _set_replication(self, path: str) -> None:
        try:
            fs, hpath = _hadoop_fs(self.spark, path)
            for st in fs.listStatus(hpath):
                if st.isFile():
                    fs.setReplication(st.getPath(), self.replication)
        except Exception:
            # Local fs treats replication as a no-op, but on a real
            # cluster a failed setReplication is a durability signal —
            # record it instead of swallowing silently.
            _log.debug("setReplication(%s, %d) failed", path, self.replication,
                       exc_info=True)

    def _committed(self, path: str) -> bool:
        """Metadata-only probe of the partition's ``_SUCCESS`` marker —
        no Spark job, no exception-driven control flow (an
        AnalysisException probe pays a full JVM stack unwind per cache
        miss and floods the logs)."""
        fs, hpath = _hadoop_fs(self.spark, f"{path}/_SUCCESS")
        return bool(fs.exists(hpath))

    def _key_lock(self, path: str) -> threading.Lock:
        with self._locks_guard:
            return self._locks.setdefault(path, threading.Lock())

    def _try_reuse(self, key: object) -> CacheResult | str:
        """The lock-free read path: the ``reuse`` result, or the source a
        rebuild reports ("create" or "recreate") when there is no
        usable committed partition."""
        path = self.partition_path(key)
        if not self._committed(path):
            return "create"  # server.py:113-116
        try:
            avg = self._avg_of(self.spark.read.schema(self._cache_schema).parquet(path))
        except Exception:
            # A corrupt or lost file leaves the marker: recreate
            # (server.py:118-121). An invalidate or a rewrite under the
            # read removed it: create (server.py:113-116).
            return "recreate" if self._committed(path) else "create"
        if avg is None:
            return "recreate"  # committed, but its part files are gone
        return CacheResult(key, avg, "reuse")

    def _recompute(self, key: object, source: str) -> CacheResult:
        # ONE job per create: the partition write is the only action, and
        # the average rides along as an observed metric on the same scan
        # (Observation API) — main's lineage is executed exactly once,
        # with no persist round-trip and no second avg job. At 100 TB
        # that halves the create path; in local benches it removes
        # ~150 ms of per-key job overhead.
        from pyspark.sql import Observation

        subset = self.main.filter(F.col(self.key_col) == F.lit(key))
        obs = Observation()
        observed = subset.observe(obs, F.avg(self.value_col).alias("a"))
        self._write_partition(observed, key)
        a = obs.get["a"]
        path = self.partition_path(key)
        if a is None:
            # Reference: int(NaN) raises → error response (server.py:145-147).
            # Roll back the (empty) partition so the key stays a miss.
            delete_tree(self.spark, path)
            return CacheResult(key, 0, "", f"no rows for {self.key_col}={key}")
        self._writes[path] = self._writes.get(path, 0) + 1
        return CacheResult(key, int(a), source)

    # -- public API ----------------------------------------------------
    def calc_avg(self, key: object) -> CacheResult:
        """The CalcAvgLoan state machine (server.py:103-143); see the
        module docstring."""
        path = self.partition_path(key)
        # Read before the probe: a write that commits after this point
        # changes the count, and a waiter below then rereads.
        seen = self._writes.get(path, 0)
        res = self._try_reuse(key)
        if isinstance(res, CacheResult):
            return res
        with self._key_lock(path):
            if self._writes.get(path, 0) != seen:
                again = self._try_reuse(key)
                if isinstance(again, CacheResult):
                    return again
            return self._recompute(key, res)

    def calc_avg_many(self, keys: list) -> list[CacheResult]:
        """calc_avg over a key list with a few jobs in flight
        (guide §2.6 "overlap independent jobs"): each key's
        create/recreate is an independent Spark job whose write tail
        leaves most cores idle, so the driver submits 3 keys at a time
        from a thread pool and the next key's scan back-fills the
        executors the current key's tail frees. Semantics are exactly
        N calc_avg calls — same per-key create/reuse/recreate/error
        state machine, results in input order; Spark's scheduler is
        job-concurrent by design, each call builds its own Observation,
        and a repeated key waits on its partition's writer lock like
        concurrent calc_avg calls do. Measured on the 5-key bench
        probe: create pass 1.29x faster, reuse 1.57x (r13)."""
        from concurrent.futures import ThreadPoolExecutor

        if len(keys) <= 1:
            return [self.calc_avg(k) for k in keys]
        # 3 in flight is the guide's sweet spot: enough to fill the
        # tail, not so many that driver-side planning serializes.
        with ThreadPoolExecutor(max_workers=3) as pool:
            return list(pool.map(self.calc_avg, keys))

    def invalidate(self) -> None:
        """Drop the whole cache (performance_analyzer.py:26-34, O16)."""
        delete_tree(self.spark, self.cache_root)

    def warm_all(self) -> None:
        """Bulk idiomatic variant: one partitioned write materializes every
        key at once (df.write.partitionBy) — at 100 TB this replaces N
        per-key jobs with a single shuffle-free partitioned write. The
        writer commits only the root ``_SUCCESS``; a per-key marker is
        added to each written partition so every key counts as
        committed."""
        self.main.write.partitionBy(self.key_col).mode("overwrite").parquet(self.cache_root)
        self._set_replication(self.cache_root)
        fs, root = _hadoop_fs(self.spark, self.cache_root)
        for st in fs.listStatus(root):
            part = st.getPath()
            if st.isDirectory() and part.getName().startswith(f"{self.key_col}="):
                fs.create(part.suffix("/_SUCCESS"), True).close()
