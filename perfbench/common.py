"""Shared pieces of the benchmark: paths, session set-up, the canary,
percentiles, Spark job/stage counting, peak RSS and the span recorder.

Everything here wraps calls into the engine's public functions; nothing in
the package is patched.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def now() -> float:
    return time.perf_counter()


def ms(t0: float, t1: float) -> float:
    return (t1 - t0) * 1000.0


def confine_to_checkout() -> None:
    """Point every scratch location of Python, the JVM and Spark into WORK,
    and make WORK the working directory (Spark writes a warehouse and
    Derby files there)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java  # spark-submit's own JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java}" pyspark-shell')
    # a 4 GB heap is ample at sf0.1 and keeps the JVM small on a shared host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(WORK)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def warm_up(spark, cpus: int) -> None:
    """JVM and Python-worker warm-up, as bench.py does it."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(cpus).repartition(cpus).mapInPandas(
        lambda it: (pdf for pdf in it), "id long").count()


def canary_ms(spark) -> float:
    """Health canary: a warm one-row job. Moves no metric."""
    t0 = now()
    spark.range(1).count()
    return ms(t0, now())


def percentile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method); a lone sample is its own."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def beyond(values: list[float], q: int) -> int:
    """How many samples lie strictly above the q-th percentile."""
    cut = percentile(values, q)
    return sum(1 for v in values if v > cut)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus its JVM child."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


class JobCounter:
    """Jobs, stages and tasks of one Spark job group, from the status
    tracker; shuffle-write and spill bytes from the JVM status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._seq = 0
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def new_group(self, prefix: str) -> str:
        self._seq += 1
        group = f"{prefix}-{self._seq}"
        self.sc.setJobGroup(group, group)
        return group

    def ungrouped_jobs(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def jobs(self, group: str | None) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stats(self, job_ids) -> dict[str, int]:
        out = {"jobs": 0, "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        empty = self.sc._jvm.java.util.ArrayList
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                stage = self.tracker.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += stage.numCompletedTasks
                for attempt in _seq_items(self._store.stageData(
                        sid, False, empty(), False, self._no_quantiles)):
                    out["shuffle_write_bytes"] += attempt.shuffleWriteBytes()
                    out["spill_bytes"] += (attempt.memoryBytesSpilled()
                                           + attempt.diskBytesSpilled())
        return out


def _seq_items(seq):
    return [seq.apply(i) for i in range(seq.size())]


def noop_run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def executed_plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


class Tracer:
    """In-memory spans: name, start, end, parent, op id. Spans are only
    recorded when enabled; `span()` is then a no-op context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    def span(self, name: str, op: int):
        return _Span(self, name, op)

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: summed duration minus what its children cover."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + \
                    ms(s["start"], s["end"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = ms(s["start"], s["end"]) - child_ms.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: int):
        self.tracer, self.name, self.op = tracer, name, op
        self.record: dict | None = None

    def __enter__(self):
        if self.tracer.enabled:
            stack = getattr(self.tracer._local, "stack", None)
            if stack is None:
                stack = self.tracer._local.stack = []
            self.record = {"id": len(self.tracer.spans), "name": self.name,
                           "op": self.op,
                           "parent": stack[-1]["id"] if stack else None,
                           "start": now(), "end": None}
            self.tracer.spans.append(self.record)
            stack.append(self.record)
        return self

    def __exit__(self, *exc):
        if self.record is not None:
            self.record["end"] = now()
            self.tracer._local.stack.pop()
        return False

    @property
    def ms(self) -> float:
        return ms(self.record["start"], self.record["end"])
