"""Measurement plumbing: in-memory spans, the /proc worker-RSS sampler
and Spark stage metrics read from the application status store."""

from __future__ import annotations

import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Spans recorded around calls into the program's layers: name,
    start, end, parent span and run id, kept in memory and written out
    with the run's artifact.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self._stack: list = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {
            "name": name,
            "span_id": len(self.spans),
            "parent_id": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start_s": time.perf_counter() - self._t0,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["span_id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0


def _python_worker_pids() -> list:
    """PIDs of PySpark's Python daemon and the workers it forks."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            pids.append(int(entry))
    return pids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """The benchmark's one extra thread: samples the RSS of every Python
    worker process every ``interval_s`` and keeps the largest seen.  The
    largest single worker, not the sum, because the daemon forks and
    retires workers on demand, so their number varies from run to run."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            largest = max((_rss_kb(p) for p in _python_worker_pids()), default=0)
            self.peak_kb = max(self.peak_kb, largest)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class StageLedger:
    """Stage metrics of the Spark jobs run since :meth:`mark`, read
    from ``SparkContext.statusStore()`` (populated with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        self._list_args = (None, False, False, gw.new_array(gw.jvm.double, 0),
                           gw.jvm.java.util.ArrayList())
        self._seen = self._max_stage_id()

    def _stage_list(self) -> list:
        jstages = self._store.stageList(*self._list_args)
        return [jstages.apply(i) for i in range(jstages.size())]

    def _max_stage_id(self) -> int:
        return max((s.stageId() for s in self._stage_list()), default=-1)

    def mark(self) -> None:
        self._seen = self._max_stage_id()

    def since_mark(self) -> dict:
        """Totals over completed stages newer than the mark, plus the
        task-time max/median of the stage that ran longest."""
        stages = [
            s for s in self._stage_list()
            if s.stageId() > self._seen and str(s.status()) == "COMPLETE"
        ]
        mb = 1024.0 * 1024.0
        out = {
            "executor_run_s": sum(s.executorRunTime() for s in stages) / 1000.0,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / mb,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / mb,
            "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages) / mb,
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "stages": len(stages),
            "heaviest_task_max_over_median": 0.0,
        }
        if stages:
            heavy = max(stages, key=lambda s: s.executorRunTime())
            times = self._task_run_ms(heavy)
            if times and statistics.median(times) > 0:
                out["heaviest_task_max_over_median"] = max(times) / statistics.median(times)
        return out

    def _task_run_ms(self, stage) -> list:
        tasks = self._store.taskList(stage.stageId(), stage.attemptId(), 100_000)
        out = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                out.append(m.get().executorRunTime())
        return out
