"""Public facade mirroring the reference's three verbs (SURVEY.md §2
API surface: DbToHdfs, BlockLocations, CalcAvgLoan — lender.proto:28-37)
without the gRPC deployment skin.

- ``db_to_store``  ≙ DbToHdfs  (extract → filter/join → parquet sink)
- ``block_report`` ≙ BlockLocations (host → block-count map)
- ``calc_avg``     ≙ CalcAvgLoan (partition-cache-accelerated average)
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import block_histogram_dict
from data_pipeline_with_hdfs_sql_integration_spark.operators.partition_cache import (
    CacheResult,
    CacheStats,
    PartitionCache,
    delete_tree,
)
from data_pipeline_with_hdfs_sql_integration_spark.operators.retry import with_retry


@dataclass
class Pipeline:
    """One engine instance bound to a main dataset + cache location.

    Requests share one ``PartitionCache`` per version of main, built on
    the first ``calc_avg`` after each ``db_to_store``; its per-key locks
    make same-key requests single-flight. The cache holds a DataFrame
    over main, and with it main's file listing, so ``db_to_store`` must
    be the only writer of ``main_path``: it drops the held cache before
    it rewrites main. The caches share one ``CacheStats``, so the answer
    counts in ``cache_stats`` span every version of main.
    """

    spark: SparkSession
    main_path: str
    cache_root: str
    key_col: str
    value_col: str
    main_replication: int = 2
    cache_replication: int = 1
    #: When set (e.g. ``http://namenode:9870``), ``block_report`` uses
    #: the WebHDFS REST protocol — the reference's actual wire path
    #: (server.py:72) — instead of the Hadoop FileSystem JVM API.
    webhdfs_url: str | None = None
    _held: PartitionCache | None = field(default=None, init=False, repr=False, compare=False)
    _held_lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )
    _stats: CacheStats = field(default_factory=CacheStats, init=False, repr=False, compare=False)

    def db_to_store(
        self,
        source: DataFrame,
        band_col: str | None = None,
        band: tuple[float, float] | None = None,
        dim: DataFrame | None = None,
        join_on=None,
        attempts: int = 5,
        sleep_s: float = 10.0,
    ) -> str:
        """Extract → optional broadcast join → band filter → parquet sink.

        Returns the row-count status string like reference server.py:57-58.
        Retries the whole job like server.py:25-27/61-68 (O14). The row
        count is an observed metric of the write itself: one job, no
        re-read of the written file.
        """

        def run() -> str:
            df = source
            if dim is not None:
                df = df.join(F.broadcast(dim), join_on, "inner")
            if band_col is not None and band is not None:
                lo, hi = band
                df = df.filter((F.col(band_col) > lo) & (F.col(band_col) < hi))
            obs = Observation()
            # Held under the lock so no request builds a cache over a
            # half-written main.
            with self._held_lock:
                self._held = None
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                    "overwrite"
                ).parquet(self.main_path)
            return f"Imported {obs.get['n']} rows to {self.main_path}"

        return with_retry(run, attempts=attempts, sleep_s=sleep_s)

    def block_report(self, path: str | None = None) -> dict[str, int]:
        """Host → block-count map (BlockLocations, lender.proto:32-33).

        Two interchangeable backends with identical flattening
        semantics (one count per replica host per block): the WebHDFS
        REST client when ``webhdfs_url`` is configured (wire parity
        with reference server.py:70-87), else the Hadoop FileSystem
        JVM API (works for file:// / s3a:// where no NameNode REST
        endpoint exists)."""
        if self.webhdfs_url:
            from data_pipeline_with_hdfs_sql_integration_spark.sources.webhdfs import block_histogram

            return block_histogram(self.webhdfs_url, path or self.main_path)
        return block_histogram_dict(self.spark, path or self.main_path)

    def _cache(self) -> PartitionCache:
        with self._held_lock:
            if self._held is None:
                self._held = PartitionCache(
                    self.spark,
                    self.spark.read.parquet(self.main_path),
                    self.key_col,
                    self.value_col,
                    self.cache_root,
                    replication=self.cache_replication,
                    stats=self._stats,
                )
            return self._held

    def calc_avg(self, key: object) -> CacheResult:
        start = time.perf_counter()
        try:
            cache = self._cache()
        except Exception:
            # No main to serve from yet: still an answered request.
            self._stats.record("error", time.perf_counter() - start, False)
            raise
        return cache.calc_avg(key)

    def cache_stats(self) -> dict:
        """CalcAvgLoan answers per outcome with their total seconds, and
        the requests that waited on a key's lock (``CacheStats``)."""
        return self._stats.snapshot()

    def invalidate_cache(self) -> None:
        # What PartitionCache.invalidate does, without building the
        # held cache: that would read main.
        delete_tree(self.spark, self.cache_root)
