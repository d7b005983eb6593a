"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The workload runs in a
child process (``worker.py``) on ``local[<host cores>]``, with its Spark
local dirs, inputs, feed, checkpoints and landing dirs in a fresh directory
under ``.perfbench_work/`` that is removed afterwards. The last line of
standard output is the result JSON. The two lines before it echo the run
environment and a summary with each workload's own throughput name; the
full record (every op, every failure with its exception) goes to
``.perfbench_out/``.

``--trace 1`` reports per-layer metrics instead of end-to-end ones (see
``worker.py``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "arcane_framework_spark"
#: A run must end within this many seconds; the children share it.
RUN_DEADLINE_S = 160
#: Driver heap: far above what the inputs need, and small enough to share
#: the host.
DRIVER_MEM = "3g"


def _source_digest() -> str:
    """SHA-256 over the package's Python sources and ``bench.py``, for
    checkouts that are not git repositories."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "bench.py")]
    for base, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        paths += [os.path.join(base, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _child_env(work: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM the worker starts keeps its files in the work dir too
        # (HotSpot writes hsperfdata to /tmp whatever java.io.tmpdir says)
        JAVA_TOOL_OPTIONS=(f"-XX:+PerfDisableSharedMem "
                           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                           f"-Dderby.system.home={work}"),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    return env


def _run_child(args, work: str, deadline: float) -> dict:
    """Run ``worker.py`` in its own process group; kill the group if it
    outlives ``deadline``. Returns the worker's result record."""
    os.makedirs(os.path.join(work, "local"))
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out, "--spawned-at", repr(time.time())]
    with open(log, "wb") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=_child_env(work), stdout=fh,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(log, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-4000:]
        reason = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {reason}:\n{tail}")
    with open(out, encoding="utf-8") as fh:
        return json.load(fh)


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (JVM, Python workers) and
    return once its process group is empty. A worker that exited has
    already stopped Spark, so what is left is killed outright; a running
    one gets SIGTERM and 10 s before SIGKILL."""
    signals = [signal.SIGKILL] if proc.poll() is not None else \
        [signal.SIGTERM, signal.SIGKILL]
    for sig in signals:
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if proc.poll() is not None:  # reaped; is anything left in the group?
                try:
                    os.killpg(proc.pid, 0)
                except ProcessLookupError:
                    return
            time.sleep(0.05)
    proc.wait()


def _metrics(names: list[dict], values: dict[str, float]) -> dict:
    unknown = sorted(set(values) - {m["name"] for m in names})
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print(f"{PACKAGE}/ and bench.py must sit beside perfbench/ "
              f"(run from the repository root)", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        res = _run_child(args, work, started + RUN_DEADLINE_S)
    except RuntimeError as exc:
        print(str(exc), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)

    if args.trace:
        metrics = _metrics(spec["per_layer"], res["layers"])
    else:
        metrics = _metrics(spec["end_to_end"], res["metrics"])
    p50_bound = next(m["bound"] for m in spec["end_to_end"]
                     if m["name"] == "latency_p50_s")
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": res["cores"], "master": res["master"],
        "sf_dir": res["sf_dir"], "git_sha": _git_sha(),
        "source_sha256": _source_digest(),
        "spark_conf": {k: v for k, v in sorted(res["spark_conf"].items())
                       if k.startswith(("spark.sql.", "spark.driver.memory",
                                        "spark.master"))},
    }
    m = res["metrics"]
    throughput = ({"rows_per_s": res["rows"] / res["busy_s"]}
                  if args.workload == "ingest_ticks"
                  else {"entries_per_s": m["ops_per_s"]})
    summary = {
        "setup_s": m["setup_s"], **throughput,
        "latency_p50_s": m["latency_p50_s"],
        "latency_p90_s": res["latency_p90_s"],
        "samples": res["samples"],
        "success_rate": m["success_rate"],
        "trend_ratio": res["trend_ratio"],
        "trend_flag": abs(res["trend_ratio"] - 1) > p50_bound,
        "failures": res["failures"][:5],
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    artifact = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                 f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(artifact, "w", encoding="utf-8") as fh:
        json.dump({"env": env, "summary": summary, "metrics": metrics,
                   "run": res}, fh, indent=1)
    print(json.dumps({"env": env}))
    print(json.dumps({"summary": summary, "artifact": os.path.relpath(artifact, ROOT)}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
