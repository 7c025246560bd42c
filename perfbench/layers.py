"""Layer measurements taken from outside the program.

Untraced runs only time the calls into the program. A traced run
(``--trace 1``) also

* tags every call with a Spark job group and counts its jobs through
  Spark's public status tracker;
* writes an uncompressed Spark event log and folds its job, stage,
  task and AQE events into per-layer totals;
* registers a ``StreamingQueryListener`` and keeps every micro-batch's
  progress.

Streaming queries run their micro-batches under a job group named
after the query's run id, so the jobs of a streaming query started
inside a call are attributed to the call through the listener's
``onQueryStarted``, which Spark delivers synchronously from
``start()``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench"


def submit_conf(event_dir: str) -> dict[str, str]:
    """Spark submit confs of a traced run: the event log (one uncompressed
    file, since Python here has no zstd decoder) and status-store retention
    large enough that no job of the run is evicted before it is read."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.retainedTasks": "10000000",
    }


class Tracer:
    """Attributes jobs and micro-batches to (phase, name) calls.

    With ``enabled`` false, ``call`` only records the current key and
    every other method does nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.key: tuple[str, str] | None = None
        self.groups: dict[str, tuple[str, str]] = {}  # job group -> (phase, name)
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        self._seq = 0
        if enabled:
            self._listen()

    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer._lock:
                    tracer.groups[str(event.runId)] = tracer.key or ("other", "")

            def onQueryProgress(self, event):
                p = event.progress
                row = {
                    "run": str(p.runId),
                    "name": p.name,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state": [
                        (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                        for s in p.stateOperators
                    ],
                }
                with tracer._lock:
                    tracer.progress.append(row)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self.spark.streams.addListener(self.listener)

    @contextmanager
    def call(self, phase: str, name: str):
        """Tag everything Spark runs inside the block with (phase, name)."""
        self.key = (phase, name)
        if self.enabled:
            self._seq += 1
            group = f"{GROUP_PREFIX}|{phase}|{name}|{self._seq}"
            self.groups[group] = (phase, name)
            self.spark.sparkContext.setJobGroup(group, group)
        try:
            yield
        finally:
            if self.enabled:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.key = None

    def quiesce(self, quiet_s: float = 1.0, limit_s: float = 30.0) -> None:
        """Wait until no listener event has arrived for ``quiet_s``."""
        if not self.enabled:
            return
        end = time.monotonic() + limit_s
        seen, since = -1, time.monotonic()
        while time.monotonic() < end:
            n = len(self.progress)
            if n != seen:
                seen, since = n, time.monotonic()
            elif time.monotonic() - since >= quiet_s:
                return
            time.sleep(0.1)

    def tracker_jobs(self) -> dict[tuple[str, str], int]:
        """Jobs per (phase, name) from Spark's status tracker."""
        st = self.spark.sparkContext.statusTracker()
        out: dict[tuple[str, str], int] = defaultdict(int)
        for group, key in list(self.groups.items()):
            out[key] += len(st.getJobIdsForGroup(group))
        return out

    def stop(self) -> None:
        if self.enabled:
            self.spark.streams.removeListener(self.listener)


def fold_event_log(path: str, groups: dict[str, tuple[str, str]]):
    """Fold one uncompressed event log into per-(phase, name) totals."""
    stage_key: dict[int, tuple[str, str]] = {}
    exec_key: dict[str, tuple[str, str]] = {}
    tot: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    aqe_execs: list[str] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                key = groups.get(props.get("spark.jobGroup.id") or "")
                if key is None:
                    continue
                tot[key]["jobs"] += 1
                for s in ev["Stage IDs"]:
                    stage_key.setdefault(s, key)
                if props.get("spark.sql.execution.id") is not None:
                    exec_key.setdefault(str(props["spark.sql.execution.id"]), key)
            elif kind == "SparkListenerStageCompleted":
                key = stage_key.get(ev["Stage Info"]["Stage ID"])
                if key is not None:
                    tot[key]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if key is None or not m:
                    continue
                t = tot[key]
                t["tasks"] += 1
                t["run_s"] += m["Executor Run Time"] / 1e3
                t["cpu_s"] += m["Executor CPU Time"] / 1e9
                t["gc_s"] += m["JVM GC Time"] / 1e3
                t["scan_bytes"] += m["Input Metrics"]["Bytes Read"]
                sr = m["Shuffle Read Metrics"]
                t["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                t["fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
                t["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                t["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                aqe_execs.append(str(ev["executionId"]))
    for e in aqe_execs:
        key = exec_key.get(e)
        if key is not None:
            tot[key]["aqe_replans"] += 1
    return tot


def event_log_file(event_dir: str, app_id: str) -> str:
    path = os.path.join(event_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no event log for {app_id} in {event_dir}")
    return path
