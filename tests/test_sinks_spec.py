"""Sink commit-protocol and spec tests (reference SURVEY.md §5 category 3)."""

import json
import os

import pytest

from arcane_framework_spark.plans.spec import (
    ENV_BACKFILL,
    ENV_SPEC,
    ENV_STREAM_ID,
    PartitionSpec,
    StreamSpec,
    from_env,
    parse_seconds,
    parse_unix_millis,
)
from arcane_framework_spark.sinks.json_sink import JsonStreamSink
from arcane_framework_spark.sinks.metadata import (
    read_partitions_metadata,
    write_partitions_metadata,
)
from arcane_framework_spark.sinks.parquet_sink import ParquetStreamSink

#: the reference's golden partitions.json content
#: (test/SinkTests/ParquetSinkTests.cs:142-145)
GOLDEN_PARTITIONS = [
    PartitionSpec(
        description="date_month",
        field_name="my_column_with_date",
        field_format="datetime",
    ),
    PartitionSpec(
        description="date_month",
        field_name="",
        field_format="",
        field_expression="date_format(cast('test' as date), 'yyyMM')",
        is_date_partition=True,
    ),
]


def test_partitions_metadata_golden(tmp_path):
    write_partitions_metadata(str(tmp_path), GOLDEN_PARTITIONS)
    target = tmp_path / "metadata" / "v0" / "partitions.json"
    payload = json.loads(target.read_text())
    assert payload == [
        {
            "description": "date_month",
            "field_name": "my_column_with_date",
            "field_format": "datetime",
            "field_expression": None,
            "is_date_partition": False,
        },
        {
            "description": "date_month",
            "field_name": "",
            "field_format": "",
            "field_expression": "date_format(cast('test' as date), 'yyyMM')",
            "is_date_partition": True,
        },
    ]


def test_partitions_metadata_removed_when_empty(tmp_path):
    write_partitions_metadata(str(tmp_path), GOLDEN_PARTITIONS)
    # Reference removes the sidecar when no partitions configured
    # (PartitionsWriter.cs:37-47).
    write_partitions_metadata(str(tmp_path), [])
    assert read_partitions_metadata(str(tmp_path)) is None


def test_parquet_sink_protocol(spark, tmp_path):
    base = str(tmp_path / "out")
    sink = ParquetStreamSink(base, partitions=GOLDEN_PARTITIONS)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id: int, v: string")
    files = sink.write_batch(df)
    token = sink.finish()

    assert files and all(
        os.path.basename(f).startswith("part-") and f.endswith("-chunk.parquet")
        for f in files
    )
    schema_files = os.listdir(os.path.join(base, "schema"))
    assert len(schema_files) == 1 and schema_files[0].startswith("schema-")
    assert read_partitions_metadata(base) is not None
    assert token and token.endswith(".COMPLETED")
    # round-trip: written data is readable and complete
    back = spark.read.parquet(os.path.join(base, "data"))
    assert back.count() == 2
    # schema advertisement parquet is empty but carries the schema
    adv = spark.read.parquet(os.path.join(base, "schema", schema_files[0]))
    assert adv.count() == 0 and adv.schema == df.schema


def test_parquet_sink_no_token_when_interrupted(spark, tmp_path):
    base = str(tmp_path / "out")
    sink = ParquetStreamSink(base)
    df = spark.createDataFrame([(1,)], "id: int")
    sink.write_batch(df)
    sink.interrupted = True
    # Reference suppresses COMPLETED on interruption (ParquetSink.cs:246-250).
    assert sink.finish() is None
    assert not [f for f in os.listdir(base) if f.endswith(".COMPLETED")]


def test_parquet_sink_rejects_zero_row_groups(tmp_path):
    with pytest.raises(ValueError):
        ParquetStreamSink(str(tmp_path), row_groups_per_file=0)


def test_json_sink_single_file_per_batch(spark, tmp_path):
    base = str(tmp_path / "json_out")
    sink = JsonStreamSink(base)
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id: int, v: string")
    files1 = sink.write_batch(df, 0)
    files2 = sink.write_batch(df.limit(1), 1)
    token = sink.finish()
    # one JSONL file per batch (MultilineJsonSink.cs:219-254)
    assert len(files1) == 1 and len(files2) == 1
    lines = open(files1[0], encoding="utf-8").read().strip().splitlines()
    assert len(lines) == 3 and all(json.loads(line)["id"] for line in lines)
    assert token and token.endswith(".COMPLETED")


def test_stream_spec_env_parsing():
    env = {
        ENV_SPEC: json.dumps(
            {
                "changeCaptureIntervalSeconds": 30,
                "lookBackRangeSeconds": 3600,
                "rowGroupsPerFile": 2,
                "stopAfterBackfill": True,
                "partitions": [
                    {"description": "d", "field_name": "f", "field_format": "datetime"}
                ],
            }
        ),
        ENV_BACKFILL: "true",
        ENV_STREAM_ID: "stream-7",
    }
    spec = from_env(env)
    assert spec.stream_id == "stream-7"
    assert spec.backfill is True
    assert spec.change_capture_interval.total_seconds() == 30
    assert spec.lookback_range.total_seconds() == 3600
    assert spec.stop_after_backfill is True
    assert spec.partitions[0].field_name == "f"


def test_stream_spec_rejects_zero_row_groups():
    with pytest.raises(ValueError):
        StreamSpec.from_dict({"rowGroupsPerFile": 0})


@pytest.mark.parametrize("seconds", [0, 0.0004, -1])
def test_stream_spec_rejects_sub_millisecond_interval(seconds):
    """A change-capture interval the millisecond trigger cannot express
    fails when the spec is parsed, not when the stream starts."""
    with pytest.raises(ValueError, match="changeCaptureIntervalSeconds"):
        StreamSpec.from_dict({"changeCaptureIntervalSeconds": seconds})
    spec = StreamSpec.from_dict({"changeCaptureIntervalSeconds": 0.5})
    assert spec.change_capture_interval.total_seconds() == 0.5


def test_scalar_converters():
    dt = parse_unix_millis(1700000000000)
    assert dt.year == 2023 and dt.tzinfo is not None
    assert parse_seconds(90).total_seconds() == 90.0


def test_dynamic_path_json_sink_envelopes(spark, tmp_path):
    import json as _json
    import os

    from arcane_framework_spark.sinks.json_sink import DynamicPathJsonSink

    df = spark.createDataFrame(
        [
            ("tenant-a/2024", "2024-01-01T00:00:00", '{"x": 1}'),
            ("tenant-a/2024", "2024-01-01T00:00:01", '{"x": 2}'),
            ("tenant-b/2024", "2024-01-02T00:00:00", '{"y": 3}'),
        ],
        "path: string, timestamp: string, body: string",
    )
    base = str(tmp_path / "out")
    sink = DynamicPathJsonSink(base)
    moved = sink.write_batch(df)
    assert len(moved) >= 2
    a_dir = os.path.join(base, "tenant-a%2F2024")
    # partition values are URL-escaped by the writer; accept either layout
    if not os.path.isdir(a_dir):
        a_dir = os.path.join(base, "tenant-a/2024")
    lines = []
    for f in sorted(os.listdir(a_dir)):
        with open(os.path.join(a_dir, f), encoding="utf-8") as fh:
            lines += [l for l in fh.read().splitlines() if l]
    got = sorted((_json.loads(l)["timestamp"], _json.loads(l)["body"])
                 for l in lines)
    assert got == [("2024-01-01T00:00:00", '{"x": 1}'),
                   ("2024-01-01T00:00:01", '{"x": 2}')]


def test_partitioned_sink_output_is_partition_pruned(spark, tmp_path):
    """Hive-layout partitioned writes must let readers prune partitions —
    the consumer-side payoff of DATE_PARTITION_KEY (SURVEY R5/K1)."""
    from pyspark.sql import functions as F

    from arcane_framework_spark.sinks.parquet_sink import ParquetStreamSink

    df = spark.createDataFrame(
        [(i, f"r{i}", f"2024{1 + i % 3:02d}") for i in range(30)],
        "id: long, v: string, DATE_PARTITION_KEY: string",
    )
    base = str(tmp_path / "out")
    sink = ParquetStreamSink(base, partition_by=["DATE_PARTITION_KEY"])
    sink.write_batch(df)
    back = spark.read.parquet(sink.data_path).filter(
        F.col("DATE_PARTITION_KEY") == "202401"
    )
    assert back.count() == 10
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(DATE_PARTITION_KEY" in plan
    # only the matching partition directory is scanned
    files = [r[0] for r in back.select(
        F.input_file_name()).distinct().collect()]
    assert files and all("DATE_PARTITION_KEY=202401" in f for f in files)

def test_multi_column_partitioned_write_preserves_all_rows(spark, tmp_path):
    """Regression: with 2+ partition_by columns the staged tree is nested
    (p1=a/p2=x/part-*.parquet); the sink must move every leaf part file,
    not silently drop the batch."""
    from pyspark.sql import functions as F

    from arcane_framework_spark.sinks.parquet_sink import ParquetStreamSink

    df = spark.createDataFrame(
        [(i, f"r{i}", f"t{i % 2}", f"2024{1 + i % 3:02d}") for i in range(30)],
        "id: long, v: string, tenant: string, DATE_PARTITION_KEY: string",
    )
    base = str(tmp_path / "out")
    sink = ParquetStreamSink(base, partition_by=["tenant", "DATE_PARTITION_KEY"])
    moved = sink.write_batch(df)
    assert moved, "multi-column partitioned write moved zero files"
    back = spark.read.parquet(sink.data_path)
    assert back.count() == 30
    assert sorted(r["id"] for r in back.select("id").collect()) == list(range(30))
    # nested Hive layout survives the rename and still prunes
    pruned = back.filter(
        (F.col("tenant") == "t0") & (F.col("DATE_PARTITION_KEY") == "202401")
    )
    files = [r[0] for r in pruned.select(F.input_file_name()).distinct().collect()]
    assert files and all(
        "tenant=t0" in f and "DATE_PARTITION_KEY=202401" in f for f in files
    )
