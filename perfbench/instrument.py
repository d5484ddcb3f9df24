"""Layer hooks for traced runs, installed from the benchmark's side.

``install`` wraps public entry points of the package's modules in
spans; nothing in the package changes. Functions are replaced in every
loaded package module that bound them by name, methods on their class.
``SparkStats`` reads Spark's executor metrics from the status store,
scoped by job description.
"""

from __future__ import annotations

import functools
import sys

PACKAGE = "data_pipeline_with_hdfs_sql_integration_spark"


def _replace_everywhere(orig, new) -> list[tuple[object, str, object]]:
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(PACKAGE) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)
                undo.append((mod, attr, orig))
    return undo


def _spanned(tracer, name: str, fn, on_result=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as sp:
            out = fn(*args, **kwargs)
            if on_result is not None and sp is not None:
                on_result(sp, args, out)
            return out

    return wrapper


def install(tracer, spark) -> list[tuple[object, str, object]]:
    """Wrap the layer entry points; returns an undo list for ``uninstall``."""
    from data_pipeline_with_hdfs_sql_integration_spark import api, catalog, service
    from data_pipeline_with_hdfs_sql_integration_spark.operators import partition_cache

    undo: list[tuple[object, str, object]] = []
    for fname in ("publish_store", "memo_persist"):
        orig = getattr(catalog, fname)
        undo += _replace_everywhere(orig, _spanned(tracer, f"catalog.{fname}", orig))

    def patch(cls, meth: str, name: str, on_result=None, wrap=None) -> None:
        orig = getattr(cls, meth)
        setattr(cls, meth, wrap(orig) if wrap else _spanned(tracer, name, orig, on_result))
        undo.append((cls, meth, orig))

    def record_source(sp, args, res) -> None:
        sp.attrs.update(key=res.key, source=res.source or "error")

    patch(partition_cache.PartitionCache, "calc_avg", "partition_cache.calc_avg", record_source)
    for meth in ("db_to_store", "block_report", "calc_avg", "invalidate_cache"):
        patch(api.Pipeline, meth, f"api.{meth}")
    for meth in ("db_to_hdfs", "block_locations", "calc_avg_loan"):
        patch(service.LenderHttpService, meth, f"service.{meth}")

    def handle_with_request_id(orig):
        # The dispatch point is the only place the request body (and the
        # client's request id) is visible on the server thread; the id
        # also scopes this request's Spark jobs.
        @functools.wraps(orig)
        def wrapper(self, verb, body):
            rid = body.get("request_id")
            sc = spark.sparkContext
            sc.setJobDescription(f"perfbench:req:{rid}" if rid else None)
            try:
                with tracer.span("service.handle", req=rid, verb=verb):
                    return orig(self, verb, body)
            finally:
                sc.setJobDescription(None)

        return wrapper

    patch(service.LenderHttpService, "_handle", "service.handle", wrap=handle_with_request_id)
    return undo


def uninstall(undo) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


class SparkStats:
    """Executor metrics of finished jobs, read from Spark's status store."""

    FIELDS = (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
        "spark.executor_cpu_ms", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_ms",
        "spark.task_skew_max",
    )

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def _drain(self) -> None:
        # Job and stage metrics reach the store through the listener bus.
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, match) -> list[tuple[str, list[int]]]:
        """(description, stage ids) of every retained job whose
        description satisfies ``match``."""
        self._drain()
        out = []
        seq = self.jsc.statusStore().jobsList(None)
        for i in range(seq.size()):
            job = seq.apply(i)
            desc = job.description()
            text = desc.get() if desc.isDefined() else ""
            if match(text):
                ids = job.stageIds()
                out.append((text, [ids.apply(j) for j in range(ids.size())]))
        return out

    def collect(self, match) -> dict[str, float]:
        jobs = self.jobs(match)
        store = self.jsc.statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        tot = dict.fromkeys(self.FIELDS, 0.0)
        tot["spark.jobs"] = float(len(jobs))
        tot["spark.task_skew_max"] = 1.0
        for sid in sorted({s for _, ids in jobs for s in ids}):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            tot["spark.stages"] += 1
            tot["spark.tasks"] += st.numTasks()
            tot["spark.executor_run_ms"] += st.executorRunTime()
            tot["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
            tot["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["spark.gc_ms"] += st.jvmGcTime()
            if st.numTasks() > 1:
                summary = store.taskSummary(sid, st.attemptId(), quantiles)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        tot["spark.task_skew_max"] = max(tot["spark.task_skew_max"], mx / med)
        return tot

    def persisted_plans(self) -> int:
        """Entries in the session's CacheManager (its private
        ``cachedData`` list, read by reflection)."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return field.get(cm).size()
