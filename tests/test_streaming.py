"""Streaming lifecycle tests: exit codes, backfill duality, end-to-end stream.

Mirrors the reference's host lifecycle tests (SURVEY.md §5 category 6:
test/Providers/Hosting/HostBuilderExtensionsTests.cs:22-128).
"""

import json
import os

from pyspark.sql import types as T

from arcane_framework_spark.contracts.schema import (
    SchemaInconsistentError,
    SchemaMismatchError,
)
from arcane_framework_spark.sinks.parquet_sink import ParquetStreamSink
from arcane_framework_spark.streaming.runner import (
    EXIT_FATAL,
    EXIT_RESTART,
    EXIT_SUCCESS,
    SCHEMA_MISMATCH_ANNOTATION,
    STATE_ANNOTATION_KEY,
    StreamRunner,
    classify_exception,
)

_S = T.StructType([T.StructField("x", T.IntegerType())])
_S2 = T.StructType([T.StructField("x", T.LongType())])


def test_exit_code_mapping():
    # SchemaMismatch -> SUCCESS + annotation (ArcaneExceptionHandler.cs:41-47)
    code, ann = classify_exception(SchemaMismatchError(_S, _S2))
    assert code == EXIT_SUCCESS
    assert ann == {STATE_ANNOTATION_KEY: SCHEMA_MISMATCH_ANNOTATION}
    # SchemaInconsistent -> RESTART
    code, ann = classify_exception(SchemaInconsistentError(2, 3))
    assert code == EXIT_RESTART and ann == {}
    # unknown -> FATAL
    code, ann = classify_exception(RuntimeError("boom"))
    assert code == EXIT_FATAL and ann == {}


def test_run_batch_success_and_failure_codes():
    runner = StreamRunner()
    assert runner.run_batch(lambda: None).exit_code == EXIT_SUCCESS

    annotations = {}
    runner = StreamRunner(annotate=annotations.update)

    def raise_mismatch():
        raise SchemaMismatchError(_S, _S2)

    result = runner.run_batch(raise_mismatch)
    assert result.exit_code == EXIT_SUCCESS
    assert annotations == {STATE_ANNOTATION_KEY: SCHEMA_MISMATCH_ANNOTATION}

    def raise_fatal():
        raise RuntimeError("boom")

    assert StreamRunner().run_batch(raise_fatal).exit_code == EXIT_FATAL


def test_run_batch_interrupted_backfill_restarts():
    runner = StreamRunner()

    def job():
        runner.request_stop()  # SIGTERM mid-backfill

    result = runner.run_batch(job)
    # interrupted backfill -> RESTART (HostBuilderExtensions.cs:187-191)
    assert result.exit_code == EXIT_RESTART and result.interrupted


def test_stream_end_to_end_backfill_drain(spark, tmp_path):
    """File stream -> foreachBatch parquet sink -> availableNow drain -> token."""
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    for i in range(3):
        (src_dir / f"f{i}.json").write_text(
            "\n".join(json.dumps({"id": i * 10 + j, "v": f"r{j}"}) for j in range(4))
        )
    stream = (
        spark.readStream.schema("id INT, v STRING").json(str(src_dir))
    )
    base = str(tmp_path / "out")
    sink = ParquetStreamSink(base)
    runner = StreamRunner()
    result = runner.run_stream(
        stream,
        sink.foreach_batch(),
        checkpoint_dir=str(tmp_path / "ckpt"),
        backfill=True,
        on_finish=lambda interrupted: (
            setattr(sink, "interrupted", interrupted),
            sink.finish(),
        ),
    )
    assert result.exit_code == EXIT_SUCCESS and not result.interrupted
    back = spark.read.parquet(os.path.join(base, "data"))
    assert back.count() == 12
    assert [f for f in os.listdir(base) if f.endswith(".COMPLETED")]


def test_stream_drift_mid_stream_maps_to_exit_code(spark, tmp_path):
    """A foreachBatch body raising SchemaInconsistentError -> RESTART."""
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    (src_dir / "f.json").write_text(json.dumps({"id": 1}))
    stream = spark.readStream.schema("id INT").json(str(src_dir))

    def bad_batch(df, batch_id):
        raise SchemaInconsistentError(1, 2)

    result = StreamRunner().run_stream(
        stream,
        bad_batch,
        checkpoint_dir=str(tmp_path / "ckpt"),
        backfill=True,
    )
    assert result.exit_code == EXIT_RESTART


def test_cdm_schema_drift_restart_choreography_end_to_end(spark, tmp_path):
    """The full schema-drift → restart loop in ONE test, over the CDM file
    source (reference: ArcaneExceptionHandler.cs:41-47 maps
    SchemaMismatchException → annotate arcane/state=schema-mismatch + exit
    SUCCESS so the operator restarts the job in backfill;
    CdmChangeFeedSource.cs:374-404 is the per-poll drift check;
    HostBuilderExtensions.cs:187-191 the exit-code contract):

      1. a CDM change-feed stream processes a micro-batch, then the
         entity schema mutates on disk and a new change file lands;
      2. the next micro-batch's drift check raises SchemaMismatchError →
         the runner annotates the job and exits SUCCESS(0);
      3. the supervisor reads the annotation, flips the backfill env flag
         (plans/spec.from_env), and restarts: a NEW source instance picks
         up the drifted schema and re-ingests the base entity;
      4. a fresh availableNow drain of the change feed recovers — both
         the pre-drift and post-drift files parse under the new schema.
    """
    from test_sources import CDM_ATTRS, _write_cdm_fixture

    from arcane_framework_spark.plans.spec import (
        ENV_BACKFILL,
        ENV_SPEC,
        from_env,
    )
    from arcane_framework_spark.sources.cdm import CdmChangeFeedSource
    from arcane_framework_spark.streaming.runner import FileAnnotationWriter

    root = _write_cdm_fixture(tmp_path)
    feed_dir = root / "ChangeFeed" / "widgets"
    ann_path = str(tmp_path / "annotations.json")
    out_dir = str(tmp_path / "out")
    src = CdmChangeFeedSource(spark, str(root), "widgets")
    batches: list[tuple[int, int]] = []

    def drift_mid_stream() -> None:
        # the "source system migrated" event: schema gains EXTRA and a
        # new 8-column change file lands
        (root / "ChangeFeed" / "widgets.cdm.json").write_text(
            json.dumps({"definitions": [{
                "entityName": "widgets",
                "hasAttributes": CDM_ATTRS
                + [{"name": "EXTRA", "dataFormat": "string"}],
            }]})
        )
        (feed_dir / "0002.csv").write_text(
            '103,"widget","0X03",,"INSERT","0X0C","0X0F","extra-val"\n'
        )

    def fb(batch_df, batch_id):
        # per-poll drift check, the reference's GetChanges preamble
        src.check_schema_drift()
        batches.append((batch_id, batch_df.count()))
        batch_df.write.mode("append").parquet(out_dir)
        if len(batches) == 1:
            drift_mid_stream()

    # -- stage 1+2: stream until the drift kills it ----------------------
    runner = StreamRunner(annotate=FileAnnotationWriter(ann_path))
    from datetime import timedelta

    result = runner.run_stream(
        src.stream(),
        fb,
        checkpoint_dir=str(tmp_path / "ckpt1"),
        backfill=False,
        trigger_interval=timedelta(seconds=1),
    )
    assert batches == [(0, 2)]  # first tick processed the pre-drift file
    assert result.exit_code == EXIT_SUCCESS  # mismatch → SUCCESS, not FATAL
    assert result.error is not None
    with open(ann_path, encoding="utf-8") as fh:
        assert json.load(fh) == {
            STATE_ANNOTATION_KEY: SCHEMA_MISMATCH_ANNOTATION
        }

    # -- stage 3: supervisor restarts in backfill ------------------------
    with open(ann_path, encoding="utf-8") as fh:
        state = json.load(fh)[STATE_ANNOTATION_KEY]
    assert state == SCHEMA_MISMATCH_ANNOTATION
    spec = from_env({ENV_SPEC: "{}", ENV_BACKFILL: "true"})
    assert spec.backfill  # the operator's restart flips this env flag

    src2 = CdmChangeFeedSource(spark, str(root), "widgets")  # new schema
    assert "EXTRA" in src2.schema.field_names
    backfill_out = str(tmp_path / "backfill_out")
    r2 = StreamRunner().run_batch(
        lambda: src2.backfill().write.mode("overwrite").parquet(backfill_out)
    )
    assert r2.exit_code == EXIT_SUCCESS
    base_rows = spark.read.parquet(backfill_out)
    assert base_rows.count() == 2 and "EXTRA" in base_rows.columns

    # -- stage 4: recovery — drain the feed under the new schema ---------
    feed_out = str(tmp_path / "feed_out")

    def fb2(batch_df, batch_id):
        src2.check_schema_drift()  # schema now stable → no error
        batch_df.write.mode("append").parquet(feed_out)

    r3 = StreamRunner().run_stream(
        src2.stream(),
        fb2,
        checkpoint_dir=str(tmp_path / "ckpt2"),  # fresh checkpoint: re-ingest
        backfill=True,
    )
    assert r3.exit_code == EXIT_SUCCESS
    recovered = spark.read.parquet(feed_out)
    by_id = {r.RECID: r for r in recovered.collect()}
    assert set(by_id) == {101, 102, 103}
    assert by_id[103].EXTRA == "extra-val"  # post-drift column ingested
    assert by_id[101].EXTRA is None  # pre-drift rows align under new schema


class _FakeStream:
    """Stands in for a streaming DataFrame and its writer: records the
    trigger ``run_stream`` asks for, and the query ends at once."""

    def __init__(self):
        self.writeStream = self
        self.trigger_kwargs = None

    def foreachBatch(self, fn):  # noqa: N802 (Spark API)
        return self

    def option(self, key, value):
        return self

    def trigger(self, **kwargs):
        self.trigger_kwargs = kwargs
        return self

    def start(self):
        return self

    def awaitTermination(self):  # noqa: N802 (Spark API)
        pass


def test_run_stream_trigger_interval_milliseconds(spark):
    """Stream mode's processingTime keeps sub-second intervals (0.5 s used
    to truncate to "0 seconds", a busy poll) and the 15 s default applies
    only when no interval is given; a non-positive or sub-millisecond
    interval is refused before any query starts (timedelta(0) used to
    fall through to 15 s)."""
    from datetime import timedelta

    import pytest

    jvm_trigger = spark._jvm.org.apache.spark.sql.streaming.Trigger
    for interval, expect_ms in [(timedelta(milliseconds=500), 500),
                                (timedelta(seconds=2.25), 2250),
                                (None, 15000)]:
        fake = _FakeStream()
        result = StreamRunner().run_stream(
            fake, lambda df, i: None, "unused-ckpt",
            trigger_interval=interval,
        )
        assert result.exit_code == EXIT_SUCCESS
        processing_time = fake.trigger_kwargs["processingTime"]
        # Spark reads the string as the intended interval
        assert jvm_trigger.ProcessingTime(processing_time).intervalMs() \
            == expect_ms

    fake = _FakeStream()
    StreamRunner().run_stream(fake, lambda df, i: None, "unused-ckpt",
                              backfill=True)
    assert fake.trigger_kwargs == {"availableNow": True}

    for bad in (timedelta(0), timedelta(seconds=-1),
                timedelta(microseconds=500)):
        fake = _FakeStream()
        with pytest.raises(ValueError, match="at least 1 millisecond"):
            StreamRunner().run_stream(fake, lambda df, i: None,
                                      "unused-ckpt", trigger_interval=bad)
        assert fake.trigger_kwargs is None


# ---------------------------------------------------------------------------
# Stateful streaming operators (T7/T8 extensions)
# ---------------------------------------------------------------------------


def _drain(q):
    q.awaitTermination()


def test_windowed_rollup_stream(spark, tmp_path):
    import json as _json

    from arcane_framework_spark.streaming.stateful import windowed_rollup

    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01T10:05:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T10:55:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01T11:05:00", "event_type": "view", "value": 5.0},
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .json(str(src))
    )
    out = windowed_rollup(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory").queryName("rollup1")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _drain(q)
    # append mode emits only watermark-closed windows; re-feed a late-enough
    # row so every earlier window closes deterministically in batch 2
    (src / "b.json").write_text(_json.dumps(
        {"ts": "2024-01-01T23:00:00", "event_type": "view", "value": 0.5}))
    q = (
        out.writeStream.format("memory").queryName("rollup2")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _drain(q)
    got = {(r.event_type, r.window_start.hour): (r.n_events, r.sum_value)
           for r in spark.table("rollup2").collect()}
    assert got[("click", 10)] == (2, 3.0)
    assert got[("view", 11)] == (1, 5.0)


def test_dedup_stream_within_watermark(spark, tmp_path):
    import json as _json

    from arcane_framework_spark.streaming.stateful import dedup_stream

    src = tmp_path / "dup"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01T10:00:00", "k": 1},
        {"ts": "2024-01-01T10:00:10", "k": 1},
        {"ts": "2024-01-01T10:00:20", "k": 2},
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema("ts TIMESTAMP, k LONG").json(str(src))
    out = dedup_stream(stream, keys=["k"], watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("dedup_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _drain(q)
    ks = sorted(r.k for r in spark.table("dedup_t").collect())
    assert ks == [1, 2]


def test_sessionize_stream_closes_on_gap_and_timeout(spark, tmp_path):
    import json as _json
    import time as _time

    from arcane_framework_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "sess"
    src.mkdir()
    us = 1_000_000
    rows = [
        {"user_id": 1, "ts": 0},
        {"user_id": 1, "ts": 60 * us},            # same session
        {"user_id": 1, "ts": 4000 * us},          # gap > 30min -> closes first
        {"user_id": 2, "ts": 10 * us},
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema("user_id LONG, ts LONG").json(str(src))
    out = sessionize_stream(stream, gap_seconds=1800, state_timeout_ms=3000)
    # NB: processing-time timeouts keep scheduling batches, so the query
    # never self-terminates even under availableNow — poll, then stop.
    q = (
        out.writeStream.format("memory").queryName("sess_t")
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    try:
        deadline = _time.time() + 90
        while _time.time() < deadline:
            got = {(r.user_id, r.n_events)
                   for r in spark.table("sess_t").collect()}
            if len(got) == 3:
                break
            _time.sleep(1)
    finally:
        q.stop()
    # gap-closed session (1,2) arrives in-batch; the open tails (1,1) and
    # (2,1) flush when the 3s processing-time timeout fires
    assert got == {(1, 2), (1, 1), (2, 1)}


# ---------------------------------------------------------------------------
# Hosted pipeline: STREAMCONTEXT env spec -> running job -> exit code (§3.1)
# ---------------------------------------------------------------------------


def test_run_pipeline_backfill_from_env_spec(spark, tmp_path):
    import json as _json
    import os

    from arcane_framework_spark.plans.pipeline import run_pipeline
    from arcane_framework_spark.plans.spec import from_env
    from arcane_framework_spark.streaming.runner import EXIT_SUCCESS

    src = tmp_path / "in"
    src.mkdir()
    rows = [{"id": 1, "name": "a", "d": "2024-01-05"},
            {"id": 2, "name": "b", "d": "2024-02-06"}]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    sink_path = str(tmp_path / "out")
    spec_json = {
        "streamKind": "file",
        "partitions": [{
            "description": "monthly",
            "field_name": "DATE_PARTITION_KEY",
            "field_format": "datetime",
            "field_expression": "date_format(to_date(d), 'yyyyMM')",
            "is_date_partition": True,
        }],
        "options": {
            "path": str(src),
            "format": "json",
            "schema": "id LONG, name STRING, d STRING",
            "merge_key_columns": ["id"],
            "sink_path": sink_path,
        },
    }
    env = {
        "STREAMCONTEXT__SPEC": _json.dumps(spec_json),
        "STREAMCONTEXT__BACKFILL": "true",
        "STREAMCONTEXT__STREAM_ID": "t-1",
        "STREAMCONTEXT__STREAM_KIND": "file",
    }
    result = run_pipeline(spark, from_env(env))
    assert result.exit_code == EXIT_SUCCESS
    # data files under partitioned dirs, named per protocol
    data = str(tmp_path / "out" / "data")
    parts = []
    for root, _dirs, files in os.walk(data):
        parts += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    assert parts and all("-chunk.parquet" in p for p in parts)
    assert any("DATE_PARTITION_KEY=202401" in p for p in parts)
    got = spark.read.parquet(data)
    assert sorted(got.columns) == ["ARCANE_MERGE_KEY", "DATE_PARTITION_KEY",
                                   "d", "id", "name"]
    assert got.count() == 2
    # sidecars + completion token
    out = tmp_path / "out"
    assert (out / "metadata" / "v0" / "partitions.json").exists()
    assert list((out / "schema").glob("schema-*.parquet"))
    assert list(out.glob("*.COMPLETED"))


def test_run_pipeline_streaming_drain(spark, tmp_path):
    import json as _json

    from arcane_framework_spark.plans.pipeline import run_pipeline
    from arcane_framework_spark.plans.spec import StreamSpec
    from arcane_framework_spark.streaming.runner import EXIT_SUCCESS

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text(_json.dumps({"id": 5, "name": "x"}))
    spec = StreamSpec.from_dict({
        "streamKind": "file",
        "stopAfterBackfill": True,
        "options": {
            "path": str(src),
            "format": "json",
            "schema": "id LONG, name STRING",
            "sink_path": str(tmp_path / "out"),
        },
    })
    result = run_pipeline(spark, spec)
    assert result.exit_code == EXIT_SUCCESS
    got = spark.read.parquet(str(tmp_path / "out" / "data"))
    assert got.count() == 1


def test_run_pipeline_unknown_kind_raises(spark):
    import pytest as _pytest

    from arcane_framework_spark.plans.pipeline import run_pipeline
    from arcane_framework_spark.plans.spec import StreamSpec

    with _pytest.raises(ValueError, match="no source builder"):
        run_pipeline(spark, StreamSpec(stream_kind="nope"))


def test_rows_incoming_metrics_listener(spark, tmp_path):
    import json as _json
    import time as _time

    from arcane_framework_spark.streaming.metrics import (
        ROWS_INCOMING,
        RowsIncomingListener,
        SourceTags,
    )

    src = tmp_path / "m"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join(_json.dumps({"id": i}) for i in range(7))
    )
    listener = RowsIncomingListener(
        SourceTags(stream_id="s-1", stream_kind="file")
    )
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema("id LONG").json(str(src))
        q = (
            stream.writeStream.format("memory").queryName("metrics_t")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        deadline = _time.time() + 30
        while _time.time() < deadline and not listener.observations:
            _time.sleep(0.5)  # listener events are delivered asynchronously
    finally:
        spark.streams.removeListener(listener)
    rows = [o for o in listener.observations if o.name == ROWS_INCOMING]
    assert rows and sum(o.value for o in rows) == 7.0
    assert rows[0].tags["arcane.stream_id"] == "s-1"

def test_sessionize_stream_accepts_timestamp_column(spark, tmp_path):
    """Regression: a TimestampType ts column must be converted to epoch
    MICROSECONDS (unix_micros), not bare-cast to epoch seconds — otherwise
    gaps are under-measured 1e6x and in-batch sessions never close."""
    import json as _json
    import time as _time

    from arcane_framework_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "sess_ts"
    src.mkdir()
    rows = [
        {"user_id": 1, "ts": "2024-01-01T10:00:00"},
        {"user_id": 1, "ts": "2024-01-01T10:01:00"},   # same session
        {"user_id": 1, "ts": "2024-01-01T12:00:00"},   # gap > 30min -> closes
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP").json(str(src))
    out = sessionize_stream(stream, gap_seconds=1800, state_timeout_ms=3000)
    q = (
        out.writeStream.format("memory").queryName("sess_ts_t")
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    try:
        deadline = _time.time() + 90
        got = set()
        while _time.time() < deadline:
            got = {(r.user_id, r.n_events, r.session_start, r.session_end)
                   for r in spark.table("sess_ts_t").collect()}
            if len(got) == 2:
                break
            _time.sleep(1)
    finally:
        q.stop()
    by_n = {n: (s, e) for (_u, n, s, e) in got}
    assert set(by_n) == {2, 1}
    # emitted bounds are the real wall-clock timestamps, not seconds-as-micros
    start2, end2 = by_n[2]
    assert (start2.year, start2.hour, start2.minute) == (2024, 10, 0)
    assert (end2.hour, end2.minute) == (10, 1)


def test_interval_join_stream_real_streaming(spark, tmp_path):
    """interval_join_stream on a replayed file stream: only same-key
    right events inside [l_ts, l_ts + delay] match; append sink drains."""
    import datetime as dt

    from arcane_framework_spark.streaming.stateful import interval_join_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # (event_id, user, kind, ts)
        (1, 1, "a", t0),
        (2, 1, "b", t0 + dt.timedelta(minutes=5)),    # match of 1
        (3, 1, "b", t0 + dt.timedelta(minutes=40)),   # outside 30min
        (4, 2, "b", t0 + dt.timedelta(minutes=5)),    # other user
        (5, 3, "a", t0 + dt.timedelta(hours=1)),
        (6, 3, "b", t0 + dt.timedelta(hours=1)),      # zero-delay match
    ]
    src = str(tmp_path / "ev")
    batch = spark.createDataFrame(
        rows, "event_id: long, user_id: long, kind: string, ts: timestamp"
    )
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    left = stream.filter("kind = 'a'").select("user_id", "event_id", "ts")
    right = stream.filter("kind = 'b'").select("user_id", "event_id", "ts")
    joined = interval_join_stream(left, right, max_delay="30 minutes")

    q = (
        joined.writeStream.format("memory")
        .queryName("ivj_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.l_event_id, r.r_event_id)
           for r in spark.table("ivj_sink").collect()}
    assert got == {(1, 2), (5, 6)}


def test_file_annotation_writer_merges_and_survives(tmp_path):
    """Schema-mismatch path writes arcane/state to the annotation file; a
    second run merges (latest value per key wins), and a torn temp file
    never reaches the final path (atomic rename)."""
    import json

    from arcane_framework_spark.contracts.schema import SchemaMismatchError
    from arcane_framework_spark.streaming.runner import (
        EXIT_SUCCESS,
        FileAnnotationWriter,
        StreamRunner,
    )

    path = str(tmp_path / "annotations" / "job.json")
    runner = StreamRunner(annotate=FileAnnotationWriter(path))

    def raise_mismatch():
        raise SchemaMismatchError("drift")

    result = runner.run_batch(raise_mismatch)
    assert result.exit_code == EXIT_SUCCESS  # restart-in-backfill signal
    with open(path) as fh:
        assert json.load(fh) == {"arcane/state": "schema-mismatch"}

    FileAnnotationWriter(path)({"arcane/state": "ok", "other": "x"})
    with open(path) as fh:
        assert json.load(fh) == {"arcane/state": "ok", "other": "x"}


def test_transitions_stream_increments_sum_to_batch_counts(spark, tmp_path):
    """Replay events through transitions_stream in multiple batches; the
    summed increments must equal the batch lag-window transition counts."""
    import pyspark.sql.functions as F

    from arcane_framework_spark.operators.temporal import event_transitions
    from arcane_framework_spark.streaming.stateful import transitions_stream

    rows = [
        (i, i % 5, i * 1000, ["view", "click", "purchase"][i % 3])
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "event_id: long, user_id: long, ts_us: long, event_type: string"
    )
    src = tmp_path / "trans_src"
    df.repartition(4).write.parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = (
        transitions_stream(stream)
        .writeStream.format("memory")
        .queryName("trans_test_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.prev_type, r.next_type): r.cnt
        for r in spark.table("trans_test_sink")
        .groupBy("prev_type", "next_type")
        .agg(F.sum("inc").alias("cnt"))
        .collect()
    }
    want = {
        (r.prev_type, r.next_type): r.cnt
        for r in event_transitions(
            df, ts_col="ts_us"
        ).select("prev_type", "next_type", "cnt").collect()
    }
    assert got == want
