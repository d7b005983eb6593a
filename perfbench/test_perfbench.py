"""Self-tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import datagen
import tracing
from stats import half_ratio, percentile

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                       "eventlog_small.jsonl")


# -- percentile helper -------------------------------------------------------

@pytest.mark.parametrize("q", [0, 10, 50, 90, 95, 99, 100])
@pytest.mark.parametrize("n", [1, 2, 7, 100, 101])
def test_percentile_matches_numpy_linear(q, n):
    values = np.random.default_rng(n).exponential(1.0, n).tolist()
    assert percentile(values, q) == pytest.approx(np.percentile(values, q))


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_half_ratio():
    assert half_ratio([1, 1, 2, 2]) == 2.0
    assert half_ratio([4, 4, 4, 2, 2, 2]) == 0.5
    assert half_ratio([5, 1, 9]) == 1.0  # too short to split


# -- event-log parser ----------------------------------------------------------

def _fixture_events() -> list[dict]:
    with open(FIXTURE, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def test_parse_event_log_totals_match_fixture():
    events = _fixture_events()
    jobs = tracing.parse_event_log(FIXTURE)
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert [j["id"] for j in jobs] == [e["Job ID"] for e in starts]
    assert sum(j["tasks"] for j in jobs) == len(tasks)
    assert sum(j["task_run_s"] for j in jobs) == pytest.approx(
        sum(t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1e3)
    assert sum(j["task_cpu_s"] for j in jobs) == pytest.approx(
        sum(t["Task Metrics"]["Executor CPU Time"] for t in tasks) / 1e9)
    assert sum(j["shuffle_write_mb"] for j in jobs) == pytest.approx(
        sum(t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for t in tasks) / 2**20)
    grouped = [j for j in jobs if j["group"]]
    assert grouped and all(j["group"] == "perfbench.relational" for j in grouped)
    assert any(j["group"] is None for j in jobs)


def test_parse_event_log_reads_a_log_directory(tmp_path):
    os.makedirs(tmp_path / "eventlog_v2_app")
    shutil.copy(FIXTURE, tmp_path / "eventlog_v2_app" / "events_1_app")
    (tmp_path / "eventlog_v2_app" / "appstatus_app").write_text("")
    assert tracing.parse_event_log(str(tmp_path)) == tracing.parse_event_log(FIXTURE)


def test_attribute_by_group_then_time_window():
    jobs = tracing.parse_event_log(FIXTURE)
    ungrouped = [j for j in jobs if j["group"] is None]
    t = ungrouped[0]["submitted_ms"]
    groups = {"perfbench.relational": "relational"}
    out = tracing.attribute(jobs, [("ticks", t - 1, t + 1)], groups)
    assert out["relational"]["jobs"] == sum(1 for j in jobs if j["group"])
    assert out["ticks"]["jobs"] == sum(
        1 for j in ungrouped if t - 1 <= j["submitted_ms"] <= t + 1)
    # a job outside every window and group is set-up or warm-up work
    assert "ticks" not in tracing.attribute(jobs, [("ticks", 0, 1)], groups)


# -- output checks -------------------------------------------------------------

def _landing(tmp_path, keys: list[str]) -> str:
    landing = str(tmp_path / "landing")
    os.makedirs(os.path.join(landing, "data"))
    os.makedirs(os.path.join(landing, "schema"))
    half = len(keys) // 2
    for i, part in enumerate((keys[:half], keys[half:])):
        pq.write_table(pa.table({checks.MERGE_KEY: part}),
                       os.path.join(landing, "data", f"part-{i}-h-chunk.parquet"))
    pq.write_table(pa.table({checks.MERGE_KEY: pa.array([], pa.string())}),
                   os.path.join(landing, "schema", "schema-1-h.parquet"))
    open(os.path.join(landing, "h.COMPLETED"), "w").close()
    return landing


def test_check_backfill_accepts_a_complete_landing_dir(tmp_path):
    landing = _landing(tmp_path, [f"k{i}" for i in range(10)])
    assert checks.check_backfill(landing, 10)["files"] == 2


@pytest.mark.parametrize("corruption", [
    "duplicate_key", "missing_rows", "no_token", "two_schemas", "truncated"])
def test_check_backfill_rejects_a_corrupted_landing_dir(tmp_path, corruption):
    keys = [f"k{i}" for i in range(10)]
    if corruption == "duplicate_key":
        keys[3] = keys[4]
    if corruption == "missing_rows":
        keys = keys[:9]
    landing = _landing(tmp_path, keys)
    if corruption == "no_token":
        os.remove(os.path.join(landing, "h.COMPLETED"))
    if corruption == "two_schemas":
        shutil.copy(os.path.join(landing, "schema", "schema-1-h.parquet"),
                    os.path.join(landing, "schema", "schema-2-h.parquet"))
    if corruption == "truncated":
        part = checks.landing_files(landing)[0]
        with open(part, "r+b") as fh:
            fh.truncate(os.path.getsize(part) // 2)
    with pytest.raises((checks.CheckFailed, pa.ArrowInvalid)):
        checks.check_backfill(landing, 10)


def _tick(tmp_path, mutate=None, offset_version=7):
    changes = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        checks.VERSION: pa.array([7, 7, 7], pa.int64()),
        checks.OPERATION: ["I", "U", "D"],
    })
    landed = {**{c: changes.column(c).to_pylist() for c in changes.column_names},
              "value": [1.5, 2.5, None], checks.MERGE_KEY: ["a", "b", "c"]}
    if mutate:
        mutate(landed)
    path = str(tmp_path / "part-0.parquet")
    pq.write_table(pa.table(landed), path)
    ckpt = tmp_path / "ckpt"
    os.makedirs(ckpt / "offsets")
    os.makedirs(ckpt / "commits")
    (ckpt / "offsets" / "0").write_text(
        'v1\n{"batchWatermarkMs":0}\n' + json.dumps({"version": offset_version}))
    (ckpt / "commits" / "0").write_text("v1\n{}")
    return [path], changes, str(ckpt)


def test_check_tick_accepts_the_committed_changes(tmp_path):
    files, changes, ckpt = _tick(tmp_path)
    assert checks.check_tick(files, changes, ["value"], ckpt, 0)["files"] == 1


@pytest.mark.parametrize("mutate, offset", [
    (lambda t: t["value"].__setitem__(2, 9.0), 7),       # payload on a delete
    (lambda t: t["value"].__setitem__(0, None), 7),      # insert lost its payload
    (lambda t: t[checks.OPERATION].__setitem__(1, "I"), 7),  # wrong operation
    (None, 6),                                           # offset behind the tick
])
def test_check_tick_rejects_wrong_output(tmp_path, mutate, offset):
    files, changes, ckpt = _tick(tmp_path, mutate, offset)
    with pytest.raises(checks.CheckFailed):
        checks.check_tick(files, changes, ["value"], ckpt, 0)


# -- input generator -----------------------------------------------------------

def test_generator_is_seeded():
    a = datagen.catalog_tables(5, 0.001)
    b = datagen.catalog_tables(5, 0.001)
    assert all(a[name].equals(b[name]) for name in a)
    assert not datagen.catalog_tables(6, 0.001)["lineitem"].equals(a["lineitem"])
