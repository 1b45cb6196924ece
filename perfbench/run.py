"""Refresh-cycle benchmark for the video_stream_processor_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload station_refresh --seed 1 --seconds 10 --trace 0

``--workload all`` runs every workload in one process, one after the
other, each in a freshly launched JVM. Each workload is a closed loop
with one client (the reference cron never overlaps two refreshes):

1. set-up: start the Spark session (this launches the JVM), generate
   all inputs from the seed, and run the warm-up operations that reach
   the first steady cycle. ``setup_s`` is this whole cold start, the
   cost every cron run pays, output checks excluded;
2. the timed loop: operations back to back until their summed time
   reaches ``--seconds``, each timed from outside and then checked,
   outside the timed region, without Spark;
3. with ``--trace 1``, one more round in a session with the Spark event
   log and a streaming-progress listener. It runs a fixed number of ops
   (``trace_ops``), so its per-layer counts and state sizes do not
   depend on how fast the ops are, and gives the per-layer metrics and
   the tracing overhead.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
``BENCHMARK.json``, or its per-layer metrics with ``--trace 1``).
Everything the run writes stays under ``.perfbench/run-<pid>/`` in the
checkout, which is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: Every end-to-end metric a run prints. BENCHMARK.json gates the ones
#: that are never 0; ``failed_ratio`` is also the result line's
#: ``failed`` / ``attempted``.
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "throughput_per_s": "1/s",
    "failed_ratio": "fraction",
    "peak_rss_mb": "MB",
}
ROOT = os.getcwd()
PACKAGE = "video_stream_processor_spark"


def _read_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 4 GiB: the inputs are small
    and the machine may be shared."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return max(1024, min(4096, ram_mb // 4 // 1024 * 1024))


def _launch_env(work: str) -> None:
    """Fit the launch to this machine and keep every file in ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["VSP_DRIVER_MEMORY"] = f"{_driver_memory_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def _spark_conf(work: str, event_log: str | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp.
        # -Xms with -XX:+AlwaysPreTouch: start the heap at a third of its
        # maximum and fault its pages in at launch, so neither the
        # collector's choice of when to grow the heap nor first-touch page
        # faults (slow and erratic on a virtual machine) land inside the
        # timed operations.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{_driver_memory_mb() // 3}m -XX:+AlwaysPreTouch",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


def _start_session(work: str, event_log: str | None = None):
    from video_stream_processor_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        for child in children.get(pid, []):
            out.append(child)
            todo.append(child)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss() -> dict[str, float]:
    """VmHWM in MiB of the driver JVM, this Python process and the
    Python workers under the JVM (summed)."""
    out = {"python_driver": _hwm_kb(os.getpid()) / 1024.0, "jvm": 0.0, "python_workers": 0.0}
    proc = _jvm_proc()
    if proc is not None:
        out["jvm"] = _hwm_kb(proc.pid) / 1024.0
        out["python_workers"] = sum(_hwm_kb(p) for p in _descendants(proc.pid)) / 1024.0
    return out


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so the next
    workload's peak is its own."""
    try:
        with open("/proc/self/clear_refs", "w", encoding="utf-8") as fh:
            fh.write("5")
    except OSError:
        pass


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and its Python workers have exited."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    workers = _descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


class Loop:
    """Ops attempted and failed, latencies of timed ops, records they
    completed, and the time spent in output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []
        self.warmup_latencies: list[float] = []
        self.in_mix: list[bool] = []  # per timed op: an untraced run times it too
        self.records = 0
        self.check_s = 0.0
        self.busy = 0.0
        self.errors: list[str] = []

    def _fail(self, exc: Exception) -> None:
        self.failed += 1
        self.errors.append(f"{type(exc).__name__}: {exc}"[:300])

    def run_op(self, wl, timed: bool) -> None:
        """One op, then its check. An op that raised has no latency; one
        that completed keeps its latency even if its output is wrong, but
        only records of correct ops count as completed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            n = wl.op()
        except Exception as exc:  # a failed operation is counted, not fatal
            self._fail(exc)
            return
        finally:
            t1 = time.perf_counter()
            if timed:
                self.busy += t1 - t0
        if timed:
            self.latencies.append(t1 - t0)
            self.in_mix.append(wl.last_in_mix)
        else:
            self.warmup_latencies.append(t1 - t0)
        try:
            wl.check()
        except Exception as exc:
            self._fail(exc)
            return
        finally:
            self.check_s += time.perf_counter() - t1
        if timed:
            self.records += n

    def timed(self, wl, seconds: float) -> None:
        """Ops back to back until their summed time, failed ones
        included and checks excluded, reaches ``seconds`` and the workload
        is at a boundary (the end of a pass of queries, so every run
        times the same mix)."""
        while self.busy < seconds or not wl.at_boundary():
            if wl.exhausted():
                break
            self.run_op(wl, timed=True)

    def fixed(self, wl, n_ops: int) -> None:
        """Exactly ``n_ops`` timed ops, whatever they cost."""
        for _ in range(n_ops):
            self.run_op(wl, timed=True)


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, but
    not below the median, as (value, percentile); the maximum when there
    are ten samples or fewer."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    k = max(n - 11, n // 2)
    return xs[k], 100.0 * (k + 1) / n


def max_ops(cls, seconds: float) -> int:
    return cls.warmup_ops + math.ceil(seconds / cls.min_op_s) + 1


def run_workload(name: str, seed: int, seconds: float, traced: bool, work: str, spark):
    """Set up, run and measure one workload; returns (result, session).
    ``spark`` is the live session of a previous workload, or None."""
    import numpy as np

    import tracing
    from workloads import WORKLOADS

    cls = WORKLOADS[name]
    loop = Loop()
    cpu0 = _cpu_times()
    t0 = time.perf_counter()
    if spark is not None:
        # the previous workload's JVM and Python workers exit, so this
        # one pays its own JVM launch and has its own memory peaks
        stop_spark(spark)
        reset_peak_rss()
    spark = _start_session(work)
    session_s = time.perf_counter() - t0
    wl = cls(spark, os.path.join(work, name), np.random.default_rng(seed), tracing.Tracer(),
             max_ops(cls, seconds))
    t_gen = time.perf_counter()
    wl.setup()
    generate_s = time.perf_counter() - t_gen
    for _ in range(wl.warmup_ops):
        loop.run_op(wl, timed=False)
    setup_s = time.perf_counter() - t0 - loop.check_s
    wl.begin_timed()

    loop.timed(wl, seconds)
    rss = peak_rss()
    lat = loop.latencies or [0.0]  # no op succeeded: the run reports correct=false
    tail_s, tail_pct = tail(lat)
    result = {
        "metrics": {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_s,
            "throughput_per_s": loop.records / loop.busy if loop.busy else 0.0,
            "failed_ratio": loop.failed / loop.attempted,
            "peak_rss_mb": sum(rss.values()),
        },
        "detail": {
            "stamp": {**stamp(spark), "cpu_steal_share": _steal_share(cpu0, _cpu_times())},
            "samples": len(loop.latencies),
            "latencies_s": loop.latencies,
            "warmup_latencies_s": list(loop.warmup_latencies),
            "generate_s": generate_s,
            "check_s": loop.check_s,
            "tail_percentile": tail_pct,
            "session_start_s": session_s,
            "peak_rss_mb": rss,
            "inputs": wl.input_summary(),
            "outcomes": wl.outcomes(),
        },
    }
    if traced:
        spark.stop()
        result["layers"] = traced_round(cls, seed, work, statistics.median(lat), loop)
        result["layers"]["session.start_s"] = session_s
    result.update(attempted=loop.attempted, failed=loop.failed)
    result["detail"]["errors"] = loop.errors[:5]
    return result, spark


def traced_round(cls, seed, work, untraced_p50, loop) -> dict:
    """One more set-up and ``trace_ops`` timed ops in a session with
    the event log and the progress listener on; ``loop`` also counts
    its ops."""
    import numpy as np

    import tracing

    log_dir = os.path.join(work, "eventlog")
    spark = _start_session(work, event_log=log_dir)
    tracer = tracing.Tracer(spark, enabled=True)
    wl = cls(spark, os.path.join(work, f"{cls.name}-traced"),
             np.random.default_rng(seed), tracer, cls.warmup_ops + cls.trace_ops)
    wl.setup()
    for _ in range(wl.warmup_ops):
        loop.run_op(wl, timed=False)
    tracer.reset()
    wl.begin_timed()
    traced = Loop()
    traced.fixed(wl, wl.trace_ops)
    loop.attempted += traced.attempted
    loop.failed += traced.failed
    loop.errors += traced.errors
    progress = tracer.settle()
    tracer.close()
    spark.stop()  # flushes the event log
    ops = max(len(traced.latencies), 1)
    jobs = tracing.jobs_in_spans(tracing.read_jobs(log_dir), tracer.spans)
    layers = wl.layer_metrics(ops, progress, jobs)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    for group, members in cls.exec_layers.items():
        g_jobs = [j for m in members for j in jobs.get(m, [])]
        g_span = sum(t1 - t0 for n, t0, t1 in tracer.spans if n in members)
        layers.update(tracing.exec_metrics(group, g_jobs, g_span, cores,
                                           max(wl.exec_ops(group, ops), 1)))
    # the overhead compares the ops an untraced run also times
    same = [t for t, m in zip(traced.latencies, traced.in_mix) if m]
    traced_p50 = statistics.median(same or [0.0])
    layers["trace.overhead_s"] = traced_p50 - untraced_p50
    return layers


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def _source_digest() -> str:
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(base, fn)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, check=False)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="utf-8") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: a run with
    a high share was slowed from outside."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def stamp(spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master if spark is not None else None,
        "spark_version": spark.version if spark is not None else None,
        "driver_memory": os.environ.get("VSP_DRIVER_MEMORY"),
        "load_1m": os.getloadavg()[0],
        "git_sha": _git_sha(),
        "source_sha1": _source_digest(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: run from a checkout root; {PACKAGE}/ not found in {ROOT}",
              file=sys.stderr)
        return 2
    spec = _read_benchmark_spec()
    names = [w["name"] for w in spec["workloads"]]
    wanted = names if args.workload == "all" else [args.workload]
    if any(w not in names for w in wanted):
        print(f"perfbench: unknown workload {args.workload!r}; one of {names} or all",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _launch_env(work)
    sys.path[:0] = [ROOT, HERE]
    os.chdir(work)
    spark = None
    results = {}
    try:
        for name in wanted:
            results[name], spark = run_workload(
                name, args.seed, args.seconds, bool(args.trace), work, spark)
    finally:
        stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    final_metrics = {}
    for name, res in results.items():
        print(json.dumps({"workload": name, "seed": args.seed, "end_to_end": res["metrics"],
                          **res["detail"]}))
        for metric, unit in END_TO_END_UNITS.items():
            print(f"{name:20s} {metric:40s} {res['metrics'][metric]:16.6g} {unit}")
        values = res["layers"] if args.trace else res["metrics"]
        for metric, unit in units.items():
            # a layer the workload does not load did no work: 0
            v = float(values.get(metric, 0.0))
            final_metrics[metric if len(results) == 1 else f"{name}.{metric}"] = {
                "value": v, "unit": unit}
            if args.trace:
                print(f"{name:20s} {metric:40s} {v:16.6g} {unit}")
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": final_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
