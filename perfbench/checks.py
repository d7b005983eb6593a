"""Output checks for the ingestion workloads.

Each check reads what the sink left on disk with pyarrow (no Spark) and
raises :class:`CheckFailed` naming the first violated property.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MERGE_KEY = "ARCANE_MERGE_KEY"
VERSION = "SYS_CHANGE_VERSION"
OPERATION = "SYS_CHANGE_OPERATION"


class CheckFailed(AssertionError):
    """An op's output does not have the expected shape."""


def _require(cond: bool, message: str) -> None:
    if not cond:
        raise CheckFailed(message)


def _read(files: list[str], columns: list[str] | None = None) -> pa.Table:
    return pq.ParquetDataset(files).read(columns=columns)


def landing_files(landing: str) -> list[str]:
    return sorted(glob.glob(os.path.join(landing, "data", "*.parquet")))


def check_backfill(landing: str, expected_rows: int) -> dict:
    """A full load landed ``expected_rows`` rows with as many distinct merge
    keys, one schema file and one COMPLETED token."""
    files = landing_files(landing)
    _require(bool(files), f"no data files under {landing}/data")
    keys = _read(files, [MERGE_KEY]).column(MERGE_KEY)
    _require(len(keys) == expected_rows,
             f"{len(keys)} rows landed, expected {expected_rows}")
    distinct = pc.count_distinct(keys).as_py()
    _require(distinct == expected_rows,
             f"{distinct} distinct {MERGE_KEY}, expected {expected_rows}")
    _require(keys.null_count == 0, f"{keys.null_count} null {MERGE_KEY}")
    schemas = glob.glob(os.path.join(landing, "schema", "schema-*.parquet"))
    _require(len(schemas) == 1, f"{len(schemas)} schema files, expected 1")
    tokens = glob.glob(os.path.join(landing, "*.COMPLETED"))
    _require(len(tokens) == 1, f"{len(tokens)} COMPLETED tokens, expected 1")
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}


def check_tick(files: list[str], changes: pa.Table, payload: list[str],
               checkpoint: str, batch_id: int) -> dict:
    """One drained tick landed exactly the committed changes: the same
    (key, version, operation) rows, NULL payload on every ``D`` row and a
    payload on every other row, and the checkpoint's offset for
    ``batch_id`` equals the tick's version."""
    _require(bool(files), "the tick landed no data files")
    landed = _read(files)
    _require(landed.num_rows == changes.num_rows,
             f"{landed.num_rows} rows landed, {changes.num_rows} committed")
    key = changes.column_names[0]

    def triples(t: pa.Table) -> list[tuple]:
        cols = [t.column(c).to_pylist() for c in (key, VERSION, OPERATION)]
        return sorted(zip(*cols))

    _require(triples(landed) == triples(changes),
             "landed (key, version, operation) rows differ from the feed file")
    deletes = pc.equal(landed.column(OPERATION), "D")
    for col in payload:
        values = landed.column(col)
        null_on_delete = pc.sum(pc.and_(deletes, pc.invert(pc.is_null(values)))).as_py()
        _require(not null_on_delete, f"{null_on_delete} D rows carry a {col} value")
        missing = pc.sum(pc.and_(pc.invert(deletes), pc.is_null(values))).as_py()
        _require(not missing, f"{missing} I/U rows have a NULL {col}")
    _require(landed.column(MERGE_KEY).null_count == 0, f"NULL {MERGE_KEY}")
    version = pc.max(changes.column(VERSION)).as_py()
    offset = committed_offset(checkpoint, batch_id)
    _require(offset == {"version": version},
             f"checkpoint offset {offset} for batch {batch_id}, "
             f"expected version {version}")
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}


def committed_offset(checkpoint: str, batch_id: int) -> dict | None:
    """The source offset Structured Streaming logged for ``batch_id``, or
    None when the batch has no commit entry yet."""
    if not os.path.exists(os.path.join(checkpoint, "commits", str(batch_id))):
        return None
    with open(os.path.join(checkpoint, "offsets", str(batch_id)),
              encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    # v1 offset log: version line, metadata line, one line per source
    return json.loads(lines[2])
