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
layout ``cache_root/<key_col>=<k>/`` (so a full-layout read gets
partition pruning for free). Like the reference (server.py:103-109), a
reuse reads the committed partition in the driver and launches no Spark
job: its data files are opened through the Hadoop FileSystem, which
still verifies checksums (``.crc`` files on the local FS, block
checksums on HDFS), and pyarrow decodes only the value column.
Replication tiering (reference: 2× main, 1× cache — server.py:49 vs
135) is applied per write via the Hadoop FileSystem API when the
storage supports it.

State machine of ``calc_avg(k)``, for a partition ``cache_root/<key_col>=<k>``:

- **committed** means ``<key_col>=<k>/_SUCCESS`` exists. A directory
  holding only ``_temporary`` (a write in flight, or one that crashed)
  is not committed, so it takes the create path instead of answering
  "no rows" from an empty listing.
- **reuse** (lock-free): a committed partition is read in the driver
  and averaged like Spark's ``avg``.
- **create**: nothing committed (server.py:113-116), also when the
  marker vanished during the read (an invalidate, or another writer).
- **recreate**: the partition is still committed but unreadable (a
  corrupt or lost file, server.py:118-121), or it holds no value —
  its part files are gone, e.g. a lost DataNode.
- create and recreate run under a per-key lock, so one key has at most
  one writer. A request that waited for the lock rereads the partition
  when another request rewrote it meanwhile, and answers ``reuse``.
- a key with no rows in main gets an empty partition that is rolled
  back, never committed, and an in-band error (server.py:145-147).

``CacheStats`` counts the answers by outcome, with their total seconds
(the outcomes the reference's performance_analyzer.py measured).
"""

from __future__ import annotations

import logging
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

#: Bytes per py4j read of a cache file. Py4J writes each answer through
#: an 8192-character buffer; a longer answer (bytes travel base64
#: encoded) leaves in two sends, and Nagle's algorithm holds the second
#: until the client's delayed ACK: about 40 ms per read instead of
#: 0.5 ms. 6000 bytes encode to 8000 characters.
_READ_CHUNK = 6000


def delete_tree(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` (no-op when it does not exist)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    hpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath, True)


@dataclass
class CacheResult:
    key: object
    avg: int  # 0 when error (reference returns 0 with error set)
    source: str  # "create" | "reuse" | "recreate" | "" on error
    error: str = ""


class CacheStats:
    """Answers per outcome (``create``/``reuse``/``recreate``/``error``)
    with their total seconds, and ``waited``: requests that blocked on a
    key's writer lock. One locked update per request."""

    OUTCOMES = ("create", "reuse", "recreate", "error")

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._count = dict.fromkeys(self.OUTCOMES, 0)
        self._seconds = dict.fromkeys(self.OUTCOMES, 0.0)
        self._waited = 0

    def record(self, outcome: str, seconds: float, waited: bool) -> None:
        with self._lock:
            self._count[outcome] += 1
            self._seconds[outcome] += seconds
            self._waited += waited

    def snapshot(self) -> dict:
        with self._lock:
            return {**self._count, "waited": self._waited, "seconds": dict(self._seconds)}


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
    stats : CacheStats, optional
        Where answers are counted; ``Pipeline`` shares one across the
        caches it builds for successive versions of main.
    """

    def __init__(
        self,
        spark: SparkSession,
        main: DataFrame,
        key_col: str,
        value_col: str,
        cache_root: str,
        replication: int = 1,
        stats: CacheStats | None = None,
    ) -> None:
        self.spark = spark
        self.main = main
        self.key_col = key_col
        self.value_col = value_col
        self.cache_root = cache_root.rstrip("/")
        self.replication = replication
        self.stats = stats or CacheStats()
        # JVM handles looked up once: every FileSystem call below is one
        # py4j round trip. The filter keeps the names Spark's reader
        # reads: not starting with "_" (markers) or "." (checksums).
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(self.cache_root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self._data_files = jvm.org.apache.parquet.hadoop.util.HiddenFileFilter.INSTANCE
        # Per-partition-path writer locks and committed-write counts;
        # see the module docstring's state machine.
        self._locks: dict[str, threading.Lock] = {}
        self._locks_guard = threading.Lock()
        self._writes: dict[str, int] = {}

    # -- paths ---------------------------------------------------------
    def partition_path(self, key: object) -> str:
        return f"{self.cache_root}/{self.key_col}={key}"

    # -- internals -----------------------------------------------------
    def _read_avg(self, path: str) -> int | None:
        """Spark's ``avg`` of the partition's ``value_col``, truncated
        toward zero like Python int() (server.py:109); None when no
        value is left (the NumPy-NaN analog).

        Spark's ``avg`` skips nulls, casts each value to double and sums
        in row order, so this does the same over the data files' rows.
        """
        arrays = []
        for st in self._fs.listStatus(self._Path(path), self._data_files):
            stream = self._fs.open(st.getPath())
            try:
                data = b"".join(iter(lambda: stream.readNBytes(_READ_CHUNK), b""))
            finally:
                stream.close()
            col = pq.ParquetFile(pa.BufferReader(data)).read(columns=[self.value_col]).column(0)
            arrays.append(col.drop_null().to_numpy().astype(np.float64))
        values = np.concatenate(arrays) if arrays else np.empty(0)
        if not len(values):
            return None
        # cumsum adds left to right; np.sum adds pairwise, which can
        # differ from Spark's running sum in the last bit.
        return int(float(np.cumsum(values)[-1]) / len(values))

    def _write_partition(self, subset: DataFrame, key: object) -> None:
        path = self.partition_path(key)
        # One key's subset is small by construction — coalesce(1) mirrors
        # the reference's single partition file per key (server.py:139-140).
        subset.drop(self.key_col).coalesce(1).write.mode("overwrite").parquet(path)
        self._set_replication(path)

    def _set_replication(self, path: str) -> None:
        try:
            for st in self._fs.listStatus(self._Path(path)):
                if st.isFile():
                    self._fs.setReplication(st.getPath(), self.replication)
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
        return bool(self._fs.exists(self._Path(f"{path}/_SUCCESS")))

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
            avg = self._read_avg(path)
        except Exception:
            _log.debug("reading %s failed", path, exc_info=True)
            avg = None
        if avg is None:
            # A corrupt or lost file leaves the marker: recreate
            # (server.py:118-121). An invalidate or a rewrite under the
            # read removed it: create (server.py:113-116).
            return "recreate" if self._committed(path) else "create"
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
            self._fs.delete(self._Path(path), True)
            return CacheResult(key, 0, "", f"no rows for {self.key_col}={key}")
        self._writes[path] = self._writes.get(path, 0) + 1
        return CacheResult(key, int(a), source)

    def _answer(self, key: object) -> tuple[CacheResult, bool]:
        """calc_avg's result, and whether it waited on the key's lock."""
        path = self.partition_path(key)
        # Read before the probe: a write that commits after this point
        # changes the count, and a waiter below then rereads.
        seen = self._writes.get(path, 0)
        res = self._try_reuse(key)
        if isinstance(res, CacheResult):
            return res, False
        lock = self._key_lock(path)
        waited = not lock.acquire(blocking=False)
        if waited:
            lock.acquire()
        try:
            if self._writes.get(path, 0) != seen:
                again = self._try_reuse(key)
                if isinstance(again, CacheResult):
                    return again, waited
            return self._recompute(key, res), waited
        finally:
            lock.release()

    # -- public API ----------------------------------------------------
    def calc_avg(self, key: object) -> CacheResult:
        """The CalcAvgLoan state machine (server.py:103-143); see the
        module docstring. Every answer is counted in ``stats``; one that
        raises counts as an error."""
        start, outcome, waited = time.perf_counter(), "error", False
        try:
            res, waited = self._answer(key)
            outcome = res.source or "error"
            return res
        finally:
            self.stats.record(outcome, time.perf_counter() - start, waited)

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
        probe: create pass 1.29x faster, reuse 1.57x (r13, when every
        reuse still ran one Spark job; a reuse is now a driver read)."""
        from concurrent.futures import ThreadPoolExecutor

        if len(keys) <= 1:
            return [self.calc_avg(k) for k in keys]
        # 3 in flight is the guide's sweet spot: enough to fill the
        # tail, not so many that driver-side planning serializes.
        with ThreadPoolExecutor(max_workers=3) as pool:
            return list(pool.map(self.calc_avg, keys))

    def invalidate(self) -> None:
        """Drop the whole cache (performance_analyzer.py:26-34, O16)."""
        self._fs.delete(self._Path(self.cache_root), True)

    def warm_all(self) -> None:
        """Bulk idiomatic variant: one partitioned write materializes every
        key at once (df.write.partitionBy) — at 100 TB this replaces N
        per-key jobs with a single shuffle-free partitioned write. The
        writer commits only the root ``_SUCCESS``; a per-key marker is
        added to each written partition so every key counts as
        committed."""
        self.main.write.partitionBy(self.key_col).mode("overwrite").parquet(self.cache_root)
        self._set_replication(self.cache_root)
        for st in self._fs.listStatus(self._Path(self.cache_root)):
            part = st.getPath()
            if st.isDirectory() and part.getName().startswith(f"{self.key_col}="):
                self._fs.create(part.suffix("/_SUCCESS"), True).close()
