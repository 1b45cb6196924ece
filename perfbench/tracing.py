"""Tracing from outside the engine: layer spans, streaming progress and
the Spark event log.

Nothing here runs in an untraced run. A traced run

* wraps each layer call in ``Tracer.span(layer)``, which tags the
  calling thread's Spark jobs with the layer name
  (``setJobDescription``) and records the span's wall time;
* collects every ``StreamingQueryProgress`` with a Python
  ``StreamingQueryListener``;
* reads the Spark event log of the traced session after the run and
  assigns each job to the span that was open when the job was
  submitted (the benchmark is one closed-loop client, so spans never
  overlap; streaming micro-batch jobs run on the query's own thread
  and carry its description, not ours, so time is the common key).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event as a plain dict."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802 (pyspark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def clear(self) -> None:
        with self._lock:
            self.progress.clear()

    def settle(self, quiet_s: float = 0.5, timeout_s: float = 5.0) -> list[dict]:
        """Events arrive asynchronously: wait until none has arrived for
        ``quiet_s``, then return them all."""
        end = time.monotonic() + timeout_s
        seen = -1
        while time.monotonic() < end:
            with self._lock:
                n = len(self.progress)
            if n == seen:
                break
            seen = n
            time.sleep(quiet_s)
        with self._lock:
            return list(self.progress)


class Tracer:
    """Layer spans for one traced run; a no-op when disabled."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []
        self.cached: list = []
        self.listener: ProgressListener | None = None
        if enabled:
            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobDescription(layer)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((layer, t0, time.time()))
            sc.setJobDescription(None)

    def materialize(self, df):
        """At a layer boundary: cache and count ``df`` when tracing, so
        the layer's span holds its own work and the next layer reads the
        cached rows; returns ``(df, rows)``, rows None when disabled.
        Caching keeps the logical plan, so the engine's memo keys (plan
        hash and input files) are the same as in an untraced run."""
        if not self.enabled:
            return df, None
        df = df.cache()
        self.cached.append(df)
        return df, df.count()

    def release(self) -> None:
        """Unpersist what ``materialize`` cached."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def span_seconds(self, layer: str) -> list[float]:
        return [t1 - t0 for name, t0, t1 in self.spans if name == layer]

    def reset(self) -> None:
        """Forget spans and progress so far (the warm-up's), once the
        warm-up's last progress events have arrived."""
        self.spans.clear()
        if self.listener is not None:
            self.listener.settle()
            self.listener.clear()

    def settle(self) -> list[dict]:
        """All progress events, once the listener has stopped receiving."""
        if self.listener is None:
            return []
        return self.listener.settle()

    def close(self) -> None:
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PYTHON_ACCUMS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def _events(log_dir: str):
    """Every event of every application log under ``log_dir`` (rolling
    ``eventlog_v2_*`` directories or single files), in file order."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += sorted(f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f))
    for fn in files:
        with open(fn, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def read_jobs(log_dir: str) -> list[dict]:
    """One record per job: submission time (s), stage/task counts, task
    time, shuffle, spill, GC, and the Python-worker SQL metrics of its
    stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "submit_s": ev["Submission Time"] / 1000.0,
                "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                "python": defaultdict(float),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is None or "Completion Time" not in info:
                continue
            job["stages"] += 1
            for acc in info.get("Accumulables", []):
                key = PYTHON_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    job["python"][key] += float(acc.get("Value") or 0)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job["tasks"] += 1
            job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics", {})
            job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return list(jobs.values())


def jobs_in_spans(jobs: list[dict], spans: list[tuple[str, float, float]]) -> dict[str, list[dict]]:
    """Group jobs by the layer whose span contains their submission."""
    out: dict[str, list[dict]] = defaultdict(list)
    for job in jobs:
        for layer, t0, t1 in spans:
            if t0 <= job["submit_s"] <= t1:
                out[layer].append(job)
                break
    return out


def exec_metrics(prefix: str, jobs: list[dict], span_s: float, cores: int,
                 ops: int) -> dict[str, float]:
    """The Spark-execution block for one layer, per op: jobs, stages,
    tasks, task time, shuffle bytes, spill and GC; and core utilisation
    over the layer's spans."""
    task_s = sum(j["task_s"] for j in jobs)
    out = {f"{prefix}.{key}": sum(float(j[key]) for j in jobs) / ops
           for key in ("stages", "tasks", "task_s", "shuffle_read_bytes",
                       "shuffle_write_bytes", "spill_bytes", "gc_s")}
    out[f"{prefix}.jobs"] = len(jobs) / ops
    out[f"{prefix}.core_util"] = task_s / (span_s * cores) if span_s > 0 else 0.0
    return out


def python_metrics(jobs: list[dict]) -> dict[str, float]:
    out = dict.fromkeys(PYTHON_ACCUMS.values(), 0.0)
    for job in jobs:
        for key, value in job["python"].items():
            out[key] += value
    return out
