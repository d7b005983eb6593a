"""Tracing for ``--trace 1`` runs: event-log writer and parser,
stream-progress listener, Catalyst phase probe and a ``/proc`` sampler.

Only the traced window of a traced run turns any of this on.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict

#: Per-task metrics summed per layer, as (output name, event-log field,
#: nested field or None, scale to the output unit).
TASK_FIELDS = (
    ("task_run_s", "Executor Run Time", None, 1e-3),
    ("task_cpu_s", "Executor CPU Time", None, 1e-9),
    ("gc_s", "JVM GC Time", None, 1e-3),
    ("deserialize_s", "Executor Deserialize Time", None, 1e-3),
    ("shuffle_write_mb", "Shuffle Write Metrics", "Shuffle Bytes Written", 1 / 2**20),
    ("spill_mb", "Disk Bytes Spilled", None, 1 / 2**20),
)
EXEC_METRICS = ("jobs", "tasks") + tuple(f[0] for f in TASK_FIELDS)

#: Structured Streaming ``durationMs`` keys reported per tick.
STREAM_PHASES = {
    "latest_offset_ms": "latestOffset",
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}


def start_event_log(spark, log_dir: str):
    """Attach a plain-JSON event log writer to the running SparkContext.

    ``spark.eventLog.enabled`` is read only when a context starts; adding
    the writer to the listener bus at run time lets one process time an
    untraced window next to a traced one. Plain JSON because Spark 4
    compresses with zstd by default, and Python 3.11's standard library
    has no zstd reader."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    os.makedirs(log_dir, exist_ok=True)
    conf = (jsc.conf().clone().set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false"))
    writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
        jsc.applicationId(), jvm.scala.Option.apply(None),
        jvm.java.io.File(log_dir).toURI(), conf, jsc.hadoopConfiguration())
    writer.start()
    jsc.listenerBus().addToEventLogQueue(writer)
    return writer


def stop_event_log(spark, writer) -> None:
    """Flush every queued event to the log, then detach and close it."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    bus.removeListener(writer)
    writer.stop()


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(root, f) for root, _dirs, files in os.walk(path)
                  for f in files if not f.startswith((".", "appstatus")))


def parse_event_log(path: str) -> list[dict]:
    """Per-job totals from a JSON event log (a file, or a directory of
    logs): ``id``, ``group``, ``submitted_ms`` and every ``EXEC_METRICS``
    entry. Each task counts toward the job that first submitted its stage."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for name in _event_files(path):
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                event = json.loads(line)
                kind = event.get("Event")
                if kind == "SparkListenerJobStart":
                    job_id = event["Job ID"]
                    props = event.get("Properties") or {}
                    jobs[job_id] = {
                        "id": job_id,
                        "group": props.get("spark.jobGroup.id"),
                        "submitted_ms": event.get("Submission Time", 0),
                        **{m: 0 for m in EXEC_METRICS},
                    }
                    jobs[job_id]["jobs"] = 1
                    for stage in event.get("Stage IDs", []):
                        stage_job.setdefault(stage, job_id)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(event.get("Stage ID")))
                    metrics = event.get("Task Metrics")
                    if job is None or not metrics:
                        continue
                    job["tasks"] += 1
                    for out, field, nested, scale in TASK_FIELDS:
                        value = metrics.get(field, 0)
                        if nested is not None:
                            value = (value or {}).get(nested, 0)
                        job[out] += value * scale
    return [jobs[k] for k in sorted(jobs)]


def attribute(jobs: list[dict], windows: list[tuple[str, float, float]],
              groups: dict[str, str] | None = None) -> dict[str, dict]:
    """Sum job totals per layer. A job whose group is a key of ``groups``
    goes to that layer; any other job goes to the layer of the
    ``(layer, start_ms, end_ms)`` window its submission time falls in, and
    is dropped when it falls in none (set-up and warm-up jobs)."""
    groups = groups or {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(EXEC_METRICS, 0))
    for job in jobs:
        layer = groups.get(job["group"])
        if layer is None:
            t = job["submitted_ms"]
            layer = next((name for name, lo, hi in windows if lo <= t <= hi), None)
        if layer is None:
            continue
        for m in EXEC_METRICS:
            out[layer][m] += job[m]
    return dict(out)


def plan_phases_ms(df) -> float:
    """Analysis + optimization + planning milliseconds of ``df``'s
    ``QueryExecution`` (forces the physical plan if it is not built yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    it = phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event's
    ``durationMs`` and input size, keyed by the query's run id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: dict[str, list[dict]] = defaultdict(list)

        def onQueryStarted(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            with self.lock:
                self.progress[str(p.runId)].append(
                    {"batch_id": p.batchId, "rows": p.numInputRows,
                     "duration_ms": dict(p.durationMs)})

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def batches(self, run_id: str) -> list[dict]:
            with self.lock:
                return list(self.progress.get(run_id, []))

    return ProgressListener()


def stream_phases(records: list[dict], listener, wait_s: float = 10.0) -> dict:
    """Per-tick medians of the micro-batch phases of each op's query run
    (``run_id``), plus ``runner.overhead_ms``: the op's wall time outside
    ``triggerExecution``. Waits up to ``wait_s`` for late progress events."""
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline and any(
            r.get("run_id") and not listener.batches(r["run_id"]) for r in records):
        time.sleep(0.1)
    per_tick: dict[str, list[float]] = defaultdict(list)
    for r in records:
        batches = listener.batches(r["run_id"]) if r.get("run_id") else []
        if not batches:
            continue
        for out, key in STREAM_PHASES.items():
            per_tick[f"stream.{out}"].append(
                sum(b["duration_ms"].get(key, 0) for b in batches))
        per_tick["runner.overhead_ms"].append(
            r["latency_s"] * 1e3 - per_tick["stream.trigger_ms"][-1])
    names = [f"stream.{k}" for k in STREAM_PHASES] + ["runner.overhead_ms"]
    return {n: statistics.median(per_tick[n]) if per_tick[n] else 0.0 for n in names}


def _psi_total_us(kind: str) -> int | None:
    try:
        with open(f"/proc/pressure/{kind}", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("some "):
                    return int(line.rsplit("total=", 1)[1])
    except OSError:
        return None
    return None


def _steal_ticks() -> int:
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _loop_ms(n: int = 1_000_000) -> float:
    """Wall time of a fixed single-thread Python loop: the host's current
    CPU speed, which ``/proc`` does not show when a vCPU runs slower."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return (time.perf_counter() - t0) * 1e3


class ProcSampler:
    """Host steal time, CPU/IO pressure and the JVM's peak RSS over a
    window, read from ``/proc``, plus a CPU-speed probe on each side of
    the window. Use as a context manager around the window; ``result()``
    gives the host metrics."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._peak_kb = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self._peak_kb = max(self._peak_kb, _rss_kb(self.jvm_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._loops = [_loop_ms() for _ in range(3)]
        self._t0 = time.monotonic()
        self._steal0 = _steal_ticks()
        self._psi0 = {k: _psi_total_us(k) for k in ("cpu", "io")}
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._window_s = time.monotonic() - self._t0
        self._steal = _steal_ticks() - self._steal0
        self._psi = {k: _psi_total_us(k) for k in ("cpu", "io")}
        self._loops += [_loop_ms() for _ in range(3)]
        return False

    def result(self) -> dict[str, float]:
        def pct(kind: str) -> float:
            a, b = self._psi0[kind], self._psi[kind]
            if a is None or b is None:
                return 0.0
            return 100.0 * (b - a) / 1e6 / self._window_s

        return {
            "host.steal_s": self._steal / os.sysconf("SC_CLK_TCK"),
            "host.cpu_psi_some_pct": pct("cpu"),
            "host.io_psi_some_pct": pct("io"),
            "jvm.rss_peak_mb": self._peak_kb / 1024.0,
            "host.loop_ms": statistics.median(self._loops),
        }
