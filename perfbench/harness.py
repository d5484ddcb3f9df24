"""Run context shared by the workloads: the work directory, the
environment every Spark process of the run inherits, repeated set-up,
peak memory and the result record."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

from perfbench.spans import Tracer

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
RESULTS = WORK / "results"
#: Driver heap for every run (the engine's SPARK_GRAFT_DRIVER_MEM knob):
#: enough for these fixtures, and it bounds the JVM's resident memory.
DRIVER_MEM = "2g"
#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def du(path: str) -> int:
    """Bytes in the files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Run:
    """One benchmark process: ``--workload --seed --seconds --trace``."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, t_start: float) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.t_start = t_start
        self.tracer = Tracer(trace)
        self.dir = WORK / f"run-{workload}-{seed}-{os.getpid()}"
        self.data_dir = str(self.dir / "data")
        tmp = self.dir / "tmp"
        tmp.mkdir(parents=True)
        RESULTS.mkdir(parents=True, exist_ok=True)
        # Everything the engine, Spark and the JVM write goes under the
        # run's directory: derived stores (tempfile), shuffle and spill
        # files (SPARK_LOCAL_DIRS) and JVM temp files. The JVM's perf-data
        # file, which always goes to /tmp, is turned off.
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "pyspark-shell"
        )
        self.spark = None
        self.setup_times: list[float] = []
        self.get_spark_times: list[float] = []

    # -- set-up ---------------------------------------------------------
    def setup(self, workload, pre_s: float = 0.0) -> None:
        """Build the session ``SETUPS`` times and keep the last one.

        The first set-up runs from process start (imports and JVM launch
        included, ``pre_s`` of input generation excluded); later ones
        close the workload, stop the session and build it again in the
        same JVM. Each one ends with ``workload.start(spark)``: its
        warm-up and, for a served workload, its service start."""
        from data_pipeline_with_hdfs_sql_integration_spark.session import get_spark

        t0 = self.t_start
        for i in range(SETUPS):
            if i:
                workload.close()
                self.spark.stop()
                t0 = time.monotonic()
            with self.tracer.span("session.get_spark"):
                tg = time.monotonic()
                self.spark = get_spark(f"perfbench-{self.workload}")
                self.get_spark_times.append(time.monotonic() - tg)
            workload.start(self.spark)
            self.setup_times.append(time.monotonic() - t0 - (pre_s if i == 0 else 0.0))
        log(f"setups {[round(t, 3) for t in self.setup_times]}")

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python driver plus its JVM."""
        kb = _vm_hwm_kb(os.getpid())
        gw = getattr(self.spark.sparkContext, "_gateway", None) if self.spark else None
        proc = getattr(gw, "proc", None)
        if proc is not None:
            kb += _vm_hwm_kb(proc.pid)
        return kb / 1024.0

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            gw = getattr(type(self.spark.sparkContext), "_gateway", None)
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    try:
                        proc.stdin.close()
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 — best effort, then kill
                        proc.kill()
                        proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)
