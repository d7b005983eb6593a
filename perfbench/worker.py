"""One run of one workload, in its own process (started by ``run.py``).

Closed loop, one client: each op starts when the previous one returned.
The worker sets up, warms up, then times ops until their summed wall time
reaches ``--seconds`` and the window holds the workload's ``min_ops``
(finishing the op, or catalog pass, in flight), and checks every op's
output, warm-up ops included. A traced run times three such windows:
untraced, traced, untraced again. The per-layer metrics come from the
middle one, and ``trace.overhead_pct`` compares its ops/s with the mean of
the other two, which cancels a steady warm-up trend.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import datagen
from stats import half_ratio, percentile

#: Scale of the catalog's tables. Shared prep costs about 30 s even at this,
#: the smallest scale, on a 4-core host.
CATALOG_SF = 0.001
#: ``events`` rows at sf0.1; backfilled in set-up, then changed by ticks.
EVENTS_ROWS = 100_000
TICK_CHANGES = 2_000
#: Feed files present at every poll: ``latestOffset`` reads every footer,
#: so a growing feed would make each tick slower than the last.
FEED_FILES = 16
CHANGE_SCHEMA = "event_id LONG, SYS_CHANGE_VERSION LONG, SYS_CHANGE_OPERATION STRING"
EVENT_PAYLOAD = ["ts", "user_id", "event_type", "value", "props"]

#: Catalog entries by the kind of work they stress; every other CORE_SUBSET
#: entry is relational.
CATEGORIES = {
    "stream": ("streaming_hourly_rollup",),
    "similarity": (
        "minhash_pairs_documents", "simhash_documents", "simhash_neardup_documents",
        "ngram_jaccard_documents", "knn_bruteforce_embeddings",
        "ann_lsh_buckets_embeddings", "cosine_neardup_embeddings",
        "ivf_topk_embeddings", "kmeans_embeddings",
    ),
    "text": (
        "text_stats_documents", "lang_id_documents", "token_count_by_source",
        "fingerprint_documents", "dedup_exact_documents", "tfidf_top_terms",
        "multimodal_features_documents", "bpe_token_stats_documents",
    ),
}
CATALOG_LAYERS = ("relational", "text", "similarity", "stream")
JOB_GROUP_PREFIX = "perfbench."


def category(entry: str) -> str:
    return next((c for c, names in CATEGORIES.items() if entry in names),
                "relational")


def _error(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[:2000]


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


class Catalog:
    """The frozen CORE_SUBSET after shared prep, each entry into the noop
    sink inside ``cache_scope()``; the seed shuffles entry order per pass.

    Every op observes its row count (a ``CollectMetrics`` node, no extra
    job), so each timed op is checked against the warm-up pass."""

    #: Shared prep takes 20-30 s, so the catalog sets up once per run.
    SETUPS = 1

    def __init__(self, spark, work: str, seed: int):
        from bench import CORE_SUBSET

        self.spark = spark
        self.work = work
        self.seed = seed
        self.entries = list(CORE_SUBSET)
        self.min_ops = len(self.entries)
        self.order_rng = random.Random(seed)
        self.tracing = False
        self.layers: dict[str, float] = {}
        self.warm_rows: dict[str, int] = {}

    def setup(self) -> None:
        from arcane_framework_spark.prep import warm_shared_prep_itemized
        from arcane_framework_spark.session import load_tables

        self.sf_dir = os.path.join(self.work, "data", f"sf{CATALOG_SF}")
        datagen.write_tables(self.sf_dir, datagen.catalog_tables(self.seed, CATALOG_SF))
        load_tables(self.spark, self.sf_dir)
        breakdown, warm_s = timed(warm_shared_prep_itemized, self.spark, self.sf_dir)
        self.layers["prep.warm_s"] = warm_s
        self.layers["prep.build_s"] = breakdown.get("__build", 0.0)

    def _entry(self, name: str) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from arcane_framework_spark.operators.cache import cache_scope
        from arcane_framework_spark.queries import QUERIES

        layer = category(name)
        rec = {"op": name, "layer": layer, "ok": True, "start_ms": time.time() * 1e3}
        if self.tracing:
            self.spark.sparkContext.setJobGroup(JOB_GROUP_PREFIX + layer, name)
        t0 = time.perf_counter()
        try:
            with cache_scope():
                df = QUERIES[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                if self.tracing:
                    from tracing import plan_phases_ms

                    rec["plan_ms"] = plan_phases_ms(df)
                t2 = time.perf_counter()
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop").mode("overwrite").save()
                t3 = time.perf_counter()
                rec["rows"] = obs.get["rows"]
            rec.update(build_s=t1 - t0, action_s=t3 - t2)
        except Exception as exc:  # noqa: BLE001 - one failing entry is one failed op
            rec.update(ok=False, error=_error(exc))
        rec["latency_s"] = time.perf_counter() - t0
        rec["end_ms"] = time.time() * 1e3
        return rec

    def timed_round(self) -> list[dict]:
        """One pass over every entry, in a fresh seeded order."""
        order = list(self.entries)
        self.order_rng.shuffle(order)
        return [self._entry(name) for name in order]

    def warmup(self) -> list[dict]:
        records = self.timed_round()
        self.warm_rows = {r["op"]: r["rows"] for r in records if r["ok"]}
        return records

    def check(self, records: list[dict]) -> None:
        """A timed op whose row count differs from the warm-up pass fails."""
        for rec in records:
            want = self.warm_rows.get(rec["op"])
            if rec["ok"] and rec["rows"] != want:
                rec.update(ok=False, error=(
                    f"{rec['rows']} rows, {want} in the warm-up pass"))

    def trend(self, records: list[dict], warm: list[dict]) -> float:
        """Median over entries of (timed latency / warm-up latency)."""
        last = {r["op"]: r["latency_s"] for r in warm}
        ratios = [r["latency_s"] / last[r["op"]] for r in records
                  if r["ok"] and last.get(r["op"])]
        return statistics.median(ratios) if ratios else 1.0

    def units(self, records: list[dict]) -> int:
        """Passes: per-layer catalog totals are reported per pass."""
        return max(1, len(records) // len(self.entries))

    def layer_metrics(self, records: list[dict]) -> dict[str, float]:
        passes = self.units(records)
        out: dict[str, float] = {}
        for layer in CATALOG_LAYERS:
            recs = [r for r in records if r["layer"] == layer and r["ok"]]
            out[f"queries.{layer}.build_s"] = sum(r["build_s"] for r in recs) / passes
            out[f"queries.{layer}.action_s"] = sum(r["action_s"] for r in recs) / passes
            out[f"catalyst.{layer}.plan_ms"] = sum(r.get("plan_ms", 0.0)
                                                   for r in recs) / passes
        out["queries.latency_p90_s"] = percentile([r["latency_s"] for r in records], 90)
        return out


class IngestTicks:
    """CDC: set-up backfills ``events`` (ChangeTrackingSource.full_load ->
    StreamRunner.run_batch -> ParquetStreamSink.write_batch + finish). Each
    op then commits one feed file of TICK_CHANGES I/U/D changes on
    ``event_id`` and drains it with ``run_stream(backfill=True)`` on a
    persistent checkpoint: arcane_ct -> delta_join against ``events`` ->
    with_merge_key -> the sink's foreachBatch, then finish()."""

    #: Warm up with at least ``MIN_WARM`` ticks, then until the median of the
    #: last ``BLOCK`` ticks is within 5% of the ``BLOCK`` before, at most
    #: ``MAX_WARM``.
    MIN_WARM, BLOCK, MAX_WARM = 5, 2, 10
    #: Set-ups per run; ``setup_s`` takes their median.
    SETUPS = 3

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        # a tick takes about a second, so ``--seconds`` alone would give a
        # median of fewer than ten
        self.min_ops = 20
        self.tracing = False
        self.layers: dict[str, float] = {}
        self.setups = 0
        self.backfills = 0
        self.backfill_s: list[float] = []

    def setup(self) -> None:
        """Generate ``events``, backfill it, and drain the feed's history
        into the stream's sink, all in a fresh directory. Every set-up is
        the same: it restarts the seeded generator."""
        from arcane_framework_spark.contracts.columns import with_merge_key
        from arcane_framework_spark.operators.relational import delta_join
        from arcane_framework_spark.sinks.parquet_sink import ParquetStreamSink
        from arcane_framework_spark.sources.ct_datasource import CtDataSource
        from arcane_framework_spark.sources.jdbc_ct import (
            ChangeTrackingSource,
            VersionCheckpoint,
        )

        if self.setups:
            shutil.rmtree(self.dir)
        self.setups += 1
        self.dir = os.path.join(self.work, f"setup-{self.setups}")
        self.rng = np.random.default_rng(self.seed)
        path = os.path.join(self.dir, "data", "events.parquet")
        os.makedirs(os.path.dirname(path))
        pq.write_table(datagen.events(self.rng, EVENTS_ROWS), path)
        events = self.spark.read.parquet(path)
        self.source = ChangeTrackingSource(
            table_provider=lambda: events,
            changes_provider=lambda: events.limit(0),
            pk_columns=["event_id"],
            checkpoint=VersionCheckpoint(os.path.join(self.dir, "ct", "version.json")),
        )
        self.backfill_s.append(self.backfill()["latency_s"])
        self.layers["backfill.latency_s"] = statistics.median(self.backfill_s)
        self.spark.dataSource.register(CtDataSource)
        self.feed = os.path.join(self.dir, "feed")
        self.staging = os.path.join(self.dir, "feed_staging")
        os.makedirs(self.feed)
        os.makedirs(self.staging)
        self.version = 0
        history = []
        for _ in range(FEED_FILES):
            history.append(self._changes())
            self._publish(self._stage(history[-1]))
        changes = (self.spark.readStream.format("arcane_ct").schema(CHANGE_SCHEMA)
                   .option("path", self.feed).load())
        self.stream = with_merge_key(delta_join(changes, events, ["event_id"]),
                                     ["event_id"])
        self.checkpoint = os.path.join(self.dir, "checkpoint")
        self.sink = ParquetStreamSink(os.path.join(self.dir, "landing", "stream"))
        rec = self._drain(pa.concat_tables(history))
        if not rec["ok"]:
            raise RuntimeError(f"draining the feed's history failed: {rec['error']}")

    def backfill(self) -> dict:
        """One full load of ``events`` into a fresh landing dir, checked;
        a failure ends the run, since the stream starts from it."""
        from arcane_framework_spark.sinks.parquet_sink import ParquetStreamSink
        from arcane_framework_spark.streaming.runner import StreamRunner

        self.backfills += 1
        landing = os.path.join(self.dir, "landing", f"backfill-{self.backfills}")
        rec = {"op": "backfill", "layer": "backfill", "start_ms": time.time() * 1e3}
        write, finish = self._timed_sink(ParquetStreamSink(landing), rec)
        df = self.source.full_load()
        result, rec["latency_s"] = timed(StreamRunner().run_batch, lambda: write(df),
                                         on_finish=finish)
        rec["end_ms"] = time.time() * 1e3
        if result.exit_code != 0:
            raise RuntimeError(f"backfill exit code {result.exit_code}") from result.error
        checks.check_backfill(landing, EVENTS_ROWS)
        shutil.rmtree(landing)
        return rec

    def _timed_sink(self, sink, rec: dict):
        """``foreachBatch`` and ``on_finish`` callbacks that time the sink."""
        def write(df, batch_id: int = 0):
            files, dt = timed(sink.write_batch, df, batch_id)
            rec.setdefault("files", []).extend(files)
            rec.setdefault("batch_ids", []).append(batch_id)
            rec["write_batch_s"] = rec.get("write_batch_s", 0.0) + dt

        def finish(interrupted: bool):
            sink.interrupted = interrupted
            _, dt = timed(sink.finish)
            rec["finish_ms"] = rec.get("finish_ms", 0.0) + dt * 1e3

        return write, finish

    def _changes(self) -> pa.Table:
        self.version += 1
        keys = self.rng.choice(EVENTS_ROWS, TICK_CHANGES, replace=False)
        ops = np.asarray(["I", "U", "D"], dtype=object)[
            self.rng.choice(3, TICK_CHANGES, p=[0.25, 0.5, 0.25])]
        return pa.table({
            "event_id": keys.astype(np.int64),
            "SYS_CHANGE_VERSION": np.full(TICK_CHANGES, self.version, np.int64),
            "SYS_CHANGE_OPERATION": pa.array(ops, pa.string()),
        })

    def _stage(self, changes: pa.Table) -> str:
        """Write the feed file beside the feed; ``_publish`` renames it in,
        so the source never lists a partial file."""
        staged = os.path.join(self.staging, f"change-{self.version:010d}.parquet")
        pq.write_table(changes, staged)
        return staged

    def _publish(self, staged: str) -> None:
        os.replace(staged, os.path.join(self.feed, os.path.basename(staged)))

    def op(self) -> dict:
        changes = self._changes()
        return self._drain(changes, self._stage(changes))

    def _drain(self, changes: pa.Table, staged: str | None = None) -> dict:
        """Publish ``staged``, one tick's feed file, if given; drain the feed
        with ``run_stream`` and check that exactly ``changes`` landed."""
        from arcane_framework_spark.streaming.runner import StreamRunner

        rec = {"op": f"tick-{self.version}", "layer": "ticks", "ok": True,
               "rows": changes.num_rows}
        write, finish = self._timed_sink(self.sink, rec)
        runner = StreamRunner()
        rec["start_ms"] = time.time() * 1e3
        t0 = time.perf_counter()
        if staged is not None:
            self._publish(staged)
        try:
            result = runner.run_stream(self.stream, write, self.checkpoint,
                                       backfill=True, on_finish=finish)
            rec["latency_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1e3
            rec["feed_files"] = len(os.listdir(self.feed))
            rec["run_id"] = str(runner._query.runId)
            if result.exit_code != 0:
                raise RuntimeError(f"run_stream exit code {result.exit_code}") \
                    from result.error
            if len(rec.get("batch_ids", [])) != 1:
                raise checks.CheckFailed(
                    f"tick drained in batches {rec.get('batch_ids')}, expected one")
            out = checks.check_tick(rec["files"], changes, EVENT_PAYLOAD,
                                    self.checkpoint, rec["batch_ids"][0])
            rec.update(n_files=out["files"], bytes=out["bytes"])
        except Exception as exc:  # noqa: BLE001 - recorded as a failed op
            rec.setdefault("latency_s", time.perf_counter() - t0)
            rec.setdefault("end_ms", time.time() * 1e3)
            rec.update(ok=False, error=_error(exc))
        for f in rec.pop("files", []):
            os.remove(f)
        feed = sorted(os.listdir(self.feed))
        for name in feed[:max(0, len(feed) - FEED_FILES)]:
            os.remove(os.path.join(self.feed, name))
        return rec

    def timed_round(self) -> list[dict]:
        return [self.op()]

    def warmup(self) -> list[dict]:
        records: list[dict] = []
        while len(records) < self.MAX_WARM:
            records.append(self.op())
            lat = [r["latency_s"] for r in records]
            if len(lat) >= max(self.MIN_WARM, 2 * self.BLOCK):
                before = statistics.median(lat[-2 * self.BLOCK:-self.BLOCK])
                if abs(statistics.median(lat[-self.BLOCK:]) / before - 1) <= 0.05:
                    break
        return records

    def check(self, records: list[dict]) -> None:
        """Ticks are checked as they complete."""

    def trend(self, records: list[dict], warm: list[dict]) -> float:
        return half_ratio([r["latency_s"] for r in records])

    def units(self, records: list[dict]) -> int:
        return max(1, len(records))

    def layer_metrics(self, records: list[dict]) -> dict[str, float]:
        ok = [r for r in records if r["ok"]] or records
        files = sum(r.get("n_files", 0) for r in ok)
        return {
            "sinks.write_batch_s": statistics.mean(r.get("write_batch_s", 0.0) for r in ok),
            "sinks.finish_ms": statistics.mean(r.get("finish_ms", 0.0) for r in ok),
            "sinks.files_per_op": files / len(ok),
            "sinks.mb_per_op": sum(r.get("bytes", 0) for r in ok) / len(ok) / 2**20,
            "sinks.rows_per_file": sum(r["rows"] for r in ok) / files if files else 0.0,
            "sources.feed_files": statistics.median(r.get("feed_files", 0) for r in ok),
        }


WORKLOADS = {"catalog": Catalog, "ingest_ticks": IngestTicks}


def timed_window(wl, seconds: float, min_ops: int) -> tuple[list[dict], float]:
    """Rounds of ops until their summed wall time reaches ``seconds`` and
    they number at least ``min_ops``."""
    records: list[dict] = []
    busy = 0.0
    while busy < seconds or len(records) < min_ops:
        recs = wl.timed_round()
        records += recs
        busy += sum(r["latency_s"] for r in recs)
    return records, busy


def traced_window(spark, wl, seconds: float, min_ops: int, work: str):
    """A timed window with every tracer on (for ticks, preceded by one
    traced backfill); returns its records, busy time and per-layer metrics."""
    import tracing

    listener = None
    if isinstance(wl, IngestTicks):
        listener = tracing.make_progress_listener()
        spark.streams.addListener(listener)
    log_dir = os.path.join(work, "eventlog")
    event_log = tracing.start_event_log(spark, log_dir)
    wl.tracing = True
    extra = [wl.backfill()] if isinstance(wl, IngestTicks) else []
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with tracing.ProcSampler(jvm_pid) as sampler:
        records, busy = timed_window(wl, seconds, min_ops)
    wl.tracing = False
    tracing.stop_event_log(spark, event_log)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.sparkContext.setLocalProperty("spark.job.description", None)

    layers = dict(wl.layers)
    layers.update(wl.layer_metrics(records))
    layers.update(sampler.result())
    if listener is not None:
        layers.update(tracing.stream_phases(records, listener))
        spark.streams.removeListener(listener)
    groups = {JOB_GROUP_PREFIX + layer: layer for layer in CATALOG_LAYERS}
    windows = [(r["layer"], r["start_ms"], r["end_ms"]) for r in extra + records]
    jobs = tracing.parse_event_log(log_dir)
    for layer, totals in tracing.attribute(jobs, windows, groups).items():
        n = 1 if layer == "backfill" else wl.units(records)
        for metric, value in totals.items():
            layers[f"exec.{layer}.{metric}"] = value / n
    return records, busy, layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args(argv)

    from arcane_framework_spark.session import get_spark

    cores = os.cpu_count() or 1
    conf = {"spark.sql.warehouse.dir": os.path.join(args.work, "warehouse")}
    spark, session_s = timed(get_spark, f"perfbench-{args.workload}",
                             master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    wl = WORKLOADS[args.workload](spark, args.work, args.seed)
    wl.layers["session.start_s"] = session_s
    session_ready_s = time.time() - args.spawned_at
    # setup_s: spawn to a live session, plus the median of SETUPS set-ups
    setups = [timed(wl.setup)[1] for _ in range(wl.SETUPS)]
    setup_s = session_ready_s + statistics.median(setups)
    wl.layers["setup.first_s"] = setups[0]
    warm, wl.layers["warmup_s"] = timed(wl.warmup)

    # a traced run times three windows, so each holds half the ops
    min_ops = wl.min_ops // 2 if args.trace else wl.min_ops
    records, busy = timed_window(wl, args.seconds, min_ops)
    windows = [warm, records]
    result = {}
    if args.trace:
        traced, traced_busy, layers = traced_window(spark, wl, args.seconds,
                                                    min_ops, args.work)
        again, again_busy = timed_window(wl, args.seconds, min_ops)
        windows += [traced, again]
        untraced_rate = (len(records) / busy + len(again) / again_busy) / 2
        layers["trace.overhead_pct"] = 100.0 * (
            1 - len(traced) / traced_busy / untraced_rate)
        result["layers"] = layers
    for w in windows[1:]:  # the catalog's warm-up pass is its reference
        wl.check(w)
    every = [r for w in windows for r in w]

    latencies = [r["latency_s"] for r in records]
    ok = [r for r in records if r["ok"]]
    result.update({
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "master": spark.sparkContext.master,
        "spark_conf": dict(spark.sparkContext.getConf().getAll()),
        "sf_dir": getattr(wl, "sf_dir", None),
        "attempted": len(every),
        "failed": sum(not r["ok"] for r in every),
        "busy_s": busy,
        "samples": len(records),
        "rows": sum(r.get("rows", 0) for r in ok),
        "setup_latencies": setups,
        "warmup_latencies": [r["latency_s"] for r in warm],
        "trend_ratio": wl.trend(records, warm),
        "metrics": {
            "setup_s": setup_s,
            "ops_per_s": len(records) / busy,
            "latency_p50_s": statistics.median(latencies),
            "success_rate": sum(r["ok"] for r in every) / len(every),
        },
        "latency_p90_s": percentile(latencies, 90),
        "failures": [{"op": r["op"], "error": r.get("error")}
                     for r in every if not r["ok"]],
        "ops": every,
    })
    spark.stop()
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
