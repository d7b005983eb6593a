import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from arcane_framework_spark.session import get_spark

    spark = get_spark(
        "arcane-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    yield spark
    spark.stop()


SF_DIR = "/root/testdata/sf0.001"


def batch_rows(batches) -> list[tuple]:
    """Row tuples, in order, from what an ``arcane_ct`` read returns —
    which must be Arrow record batches, never Python rows."""
    import pyarrow as pa

    batches = list(batches)
    assert all(isinstance(b, pa.RecordBatch) for b in batches), batches
    return [row for b in batches
            for row in zip(*(col.to_pylist() for col in b.columns))]
