"""Spark-4 streaming DataSource face of the change-tracking source (S2/T2).

The driver-loop ``ChangeTrackingSource`` (jdbc_ct.py) manages its version
watermark in its own file checkpoint; this module puts the SAME watermark in
Spark's native Structured Streaming commit log instead — the reference's
checkpointed-offset semantics (SqlServerChangeTrackingSource.cs:455-459:
the highest ``SYS_CHANGE_VERSION`` fully emitted is durably committed, and
a restarted stream resumes strictly after it, never re-reading a delta).

``format("arcane_ct")`` reads a change-FEED relation: an append-only
directory of parquet change rows carrying the PKs, a version column, and an
operation column ('I'/'U'/'D') — the shape ``ChangeTrackingSource`` consumes
from its ``changes_provider`` and CDM/Delta CDF materialize on disk. Each
micro-batch emits the rows with ``version > committed`` and commits
``max(version)`` as the new offset:

- offset JSON: ``{"version": V}`` — directly comparable to the reference's
  ChangeTrackingVersion watermark (T2)
- empty tick (no rows past V): offset UNCHANGED, re-polled next trigger —
  the reference's empty-change-feed behavior
- ``readBetweenOffsets`` replays ``(start, end]`` from the immutable feed,
  so a crash between batches recovers the exact committed batch (the test
  kills the query mid-stream and restarts on the same checkpoint: no
  duplicate delta, no gap)

The delete-preserving join to current table state (R2) is deliberately NOT
inside the source: it stays a downstream stream-static ``delta_join`` —
Spark's own machinery for it — keeping the source a pure watermarked change
feed exactly like CHANGETABLE(CHANGES ...) is on the server.

Options:
- ``path``            change-feed parquet directory (append-only)
- ``version_column``  default SYS_CHANGE_VERSION
- ``start_version``   initial watermark (default -1: everything; the
  backfill/stream duality is the runner's concern — a backfill writes the
  snapshot with synthesized version 0, then the stream starts at 0)
- ``unreadable_policy``  what an in-flight/truncated file does to the
  tick: ``hold`` (default — consume the feed only up to the first
  unreadable file, never committing past it; see ``_feed_batches``) or
  ``fail`` (raise, for feeds where truncation means corruption)

``read``/``readBetweenOffsets`` return ``pyarrow.RecordBatch``es read with
pyarrow directly, which Spark's Python source runner forwards as-is: no
change row becomes a Python object (the one exception: a zone-less
timestamp under a ``TIMESTAMP`` field, when the runner's zone is not UTC,
is shifted per value, as Spark's row conversion does; see ``_conform``).
A SimpleDataSourceStreamReader still
prefetches on the driver by design — per-tick deltas are version-bounded
and small; the 100 TB table itself never flows through this source, only
its change rows, exactly like the reference's CHANGETABLE scans. Spark
starts a fresh Python runner per query start, so this module keeps its
import set lean: no ``pyarrow.dataset`` (which imports pandas), and
``pyarrow.compute`` only for a file that straddles the watermark or whose
types differ from the schema.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator
from datetime import timezone
from typing import TYPE_CHECKING

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from arcane_framework_spark.contracts.columns import SYS_CHANGE_VERSION

if TYPE_CHECKING:
    import pyarrow as pa


def _version_stats(pf, version_col: str) -> tuple[int | None, int | None, int]:
    """(min, max, null count) of ``version_col`` in one parquet file, from
    the FOOTER row-group statistics when every row group carries them (no
    data pages touched), else from reading that one column. min/max are
    None for a file without a non-null version (zero rows)."""
    md = pf.metadata
    vmin = vmax = None
    nulls = 0
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        stats = None
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            if col.path_in_schema == version_col:
                stats = col.statistics
                break
        if stats is None or not stats.has_min_max or not stats.has_null_count:
            break
        vmin = stats.min if vmin is None else min(vmin, stats.min)
        vmax = stats.max if vmax is None else max(vmax, stats.max)
        nulls += stats.null_count
    else:  # every row group had stats
        return vmin, vmax, nulls
    import pyarrow.compute as pc  # stats absent: bound from the one column

    versions = pf.read(columns=[version_col]).column(version_col)
    bounds = pc.min_max(versions)
    return bounds["min"].as_py(), bounds["max"].as_py(), versions.null_count


def _conform(table: pa.Table, schema: pa.Schema) -> pa.Table:
    """``table`` as ``schema``, casting only the columns whose file type
    differs (e.g. an int32 feed under a LONG field), with the values Spark's
    row conversion gives: a timestamp is truncated to microseconds, and a
    zone-less timestamp under a Spark ``TIMESTAMP`` field is wall time in
    the runner's local zone."""
    if table.schema.equals(schema):
        return table
    import pyarrow as pa
    import pyarrow.compute as pc

    columns = []
    for field, column in zip(schema, table.columns):
        if (column.type != field.type and pa.types.is_timestamp(column.type)
                and pa.types.is_timestamp(field.type)):
            column = pc.cast(column, options=pc.CastOptions(
                pa.timestamp("us", column.type.tz), allow_time_truncate=True))
            if (column.type.tz is None and field.type.tz is not None
                    and not time.timezone == time.altzone == 0):
                # local wall time -> UTC per value, as datetime.astimezone
                # does for the naive values of Spark's row path
                column = pa.array([
                    None if v is None else v.astimezone(timezone.utc)
                    for v in column.to_pylist()
                ], field.type)
        columns.append(column.cast(field.type))
    return pa.Table.from_arrays(columns, schema=schema)


def _feed_batches(path: str, version_col: str, schema: pa.Schema, lo: int,
                  hi: int | None, unreadable_policy: str = "hold",
                  ) -> tuple[list[pa.RecordBatch], int]:
    """Rows with ``lo < version <= hi`` (hi=None: no upper bound) from the
    parquet feed at ``path``, as Arrow record batches of ``schema``
    (columns selected in its order, cast to its types where a file's
    differ); returns (batches, max version seen overall). No empty
    batch is returned, so ``not batches`` means an empty delta.

    Listing + filtering happens per call: the feed is append-only, so new
    files between calls are exactly the new deltas. Missing/empty dir is a
    cold feed, not an error.

    Per-tick cost is bounded by DELTA size, not feed age (the reference's
    CHANGETABLE scans are delta-bounded too): each file's version range is
    read from its parquet footer statistics, and files entirely at or below
    the committed watermark (``max <= lo``) — i.e. the ever-growing history
    — are skipped without touching their data pages. A delta file is read
    through the ``ParquetFile`` already open for its footer, and the
    version mask runs only on a file whose range straddles ``lo`` or
    ``hi`` (or that holds NULL versions); columns whose file type differs
    from ``schema`` go through ``_conform``.

    **Unreadable (in-flight / truncated) files stop the scan** — the feed
    is consumed as a PREFIX in filename order: rows and the watermark come
    only from files strictly BEFORE the first unreadable one; everything at
    or after it waits for a later tick. This is what makes in-flight
    tolerance safe under overlapping writers: skipping the unreadable file
    while advancing the watermark from files sorted after it would lose the
    file forever if it completes with ``max(version) <= committed``. The
    prefix rule never commits past an incomplete file, so a late completion
    always lands ABOVE the offset. The feed contract this relies on is
    explicit and minimal: **filename sort order must not run ahead of
    version order across files** (each file's versions exceed every version
    in files that sort before it) — naturally true for zero-padded sequence
    names from a serial writer, and the contract concurrent writers must
    arrange (claim the name before writing). ``unreadable_policy="fail"``
    raises instead of holding, for feeds where a truncated file is always
    corruption rather than a writer mid-append.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return [], lo
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    max_seen: int | None = None
    batches: list[pa.RecordBatch] = []
    for f in files:
        try:
            pf = pq.ParquetFile(f)
            fmin, fmax, nulls = _version_stats(pf, version_col)
        except (OSError, pa.ArrowInvalid):
            if unreadable_policy == "fail":
                raise
            break  # prefix rule: nothing at/after an in-flight file
        with pf:
            if fmax is None:
                continue  # zero-row file
            max_seen = fmax if max_seen is None else max(max_seen, fmax)
            if fmax <= lo:
                continue  # fully below the watermark: committed history
            if hi is not None and fmin > hi:
                continue  # fully above a bounded replay range
            table = pf.read(columns=schema.names)
        if nulls or fmin <= lo or (hi is not None and fmax > hi):
            import pyarrow.compute as pc  # only a straddling file needs it

            versions = table.column(version_col)
            mask = pc.greater(versions, lo)
            if hi is not None:
                mask = pc.and_(mask, pc.less_equal(versions, hi))
            table = table.filter(mask)
        batches.extend(
            b for b in _conform(table, schema).to_batches() if b.num_rows)
    return batches, lo if max_seen is None else int(max_seen)


class CtStreamReader(SimpleDataSourceStreamReader):
    """Version-watermarked change-feed reader; offset = {"version": V}."""

    def __init__(self, schema: StructType, options: dict):
        self.path = options["path"]
        self.version_col = options.get("version_column", SYS_CHANGE_VERSION)
        self.start_version = int(options.get("start_version", "-1"))
        self.unreadable_policy = options.get("unreadable_policy", "hold")
        if self.unreadable_policy not in ("hold", "fail"):
            raise ValueError(
                "unreadable_policy must be 'hold' (wait for the in-flight "
                "file; default) or 'fail' (raise on a truncated file), got "
                f"{self.unreadable_policy!r}"
            )
        if self.version_col not in schema.fieldNames():
            raise ValueError(
                f"schema must include the version column "
                f"{self.version_col!r} (it IS the watermark)"
            )
        self.arrow_schema = to_arrow_schema(schema)

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API)
        return {"version": self.start_version}

    def read(self, start: dict) -> tuple:
        batches, max_seen = _feed_batches(
            self.path, self.version_col, self.arrow_schema,
            int(start["version"]), None,
            unreadable_policy=self.unreadable_policy,
        )
        if not batches:
            return iter([]), start  # empty tick: watermark holds
        return iter(batches), {"version": max_seen}

    def readBetweenOffsets(self, start: dict, end: dict,  # noqa: N802
                           ) -> Iterator[pa.RecordBatch]:
        # Deterministic replay of a committed range from the immutable
        # feed: version-bounded on BOTH sides, so rows appended after the
        # original read can never leak into a recovered batch.
        batches, _ = _feed_batches(
            self.path, self.version_col, self.arrow_schema,
            int(start["version"]), int(end["version"]),
            unreadable_policy=self.unreadable_policy,
        )
        return iter(batches)


class CtDataSource(DataSource):
    """``format("arcane_ct")`` — change feed with commit-logged versions."""

    @classmethod
    def name(cls) -> str:
        return "arcane_ct"

    def simpleStreamReader(self, schema: StructType) -> CtStreamReader:  # noqa: N802
        return CtStreamReader(schema, self.options)
