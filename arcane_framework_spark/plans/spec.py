"""Stream/pipeline specification (SURVEY.md §1.1 'Stream context', §3.1).

The reference configures one stream per process from environment JSON:
``STREAMCONTEXT__SPEC`` (JSON payload), ``STREAMCONTEXT__BACKFILL``,
``STREAMCONTEXT__STREAM_ID``, ``STREAMCONTEXT__STREAM_KIND``
(src/Providers/StreamContext.cs:45-53,
src/Providers/Hosting/StreamHostBuilderContext.cs:36-47). Scalar converters:
unix-millis → datetime, seconds → timedelta
(src/Configuration/UnixTimeConverter.cs:12-21,
SecondsToTimeSpanConverter.cs:12-19).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

ENV_SPEC = "STREAMCONTEXT__SPEC"
ENV_BACKFILL = "STREAMCONTEXT__BACKFILL"
ENV_STREAM_ID = "STREAMCONTEXT__STREAM_ID"
ENV_STREAM_KIND = "STREAMCONTEXT__STREAM_KIND"


def parse_unix_millis(value: int | float | str) -> datetime:
    """Unix epoch milliseconds → UTC datetime (UnixTimeConverter semantics)."""
    return datetime.fromtimestamp(int(value) / 1000.0, tz=timezone.utc)


def parse_seconds(value: int | float | str) -> timedelta:
    """Seconds → timedelta (SecondsToTimeSpanConverter semantics)."""
    return timedelta(seconds=float(value))


#: Reference source-width limit: "Supports max 600 columns"
#: (SqlServerChangeTrackingSource.cs:29).
MAX_SOURCE_COLUMNS = 600


def validate_source_columns(columns: list[str],
                            limit: int = MAX_SOURCE_COLUMNS) -> list[str]:
    """Reject source relations wider than the reference's 600-column limit."""
    if len(columns) > limit:
        raise ValueError(
            f"source has {len(columns)} columns; the supported maximum is "
            f"{limit} (reference SqlServerChangeTrackingSource.cs:29)"
        )
    return columns


#: Supported page listing algorithms (reference PageResolverType.cs:6-20).
PAGE_RESOLVER_TYPES = ("COUNTER", "OFFSET", "TOKEN")


@dataclass(frozen=True)
class PageResolverConfiguration:
    """Pagination declared in the stream spec JSON.

    Mirrors the reference's configuration record
    (src/Sources/RestApi/Models/PageResolverConfiguration.cs:9-44): the
    JSON property names are ``resolverType`` (COUNTER/OFFSET/TOKEN,
    PageResolverType.cs:6-20), ``resolverPropertyKeyChain`` (where in the
    response the total-pages / row-array / token value lives),
    ``responseSize`` (OFFSET page size) and ``startOffset``. The factory
    that turns this into a live resolver is
    ``sources.rest.page_resolver_from_config`` — the repo's counterpart of
    ``PagedUriProvider.WithPageResolver`` (PagedUriProvider.cs:155-178).
    """

    resolver_type: str
    resolver_property_key_chain: tuple[str, ...] = ()
    response_size: int | None = None
    start_offset: int | None = None

    @classmethod
    def from_dict(cls, payload: dict) -> "PageResolverConfiguration":
        resolver_type = str(payload.get("resolverType", "")).upper()
        if resolver_type not in PAGE_RESOLVER_TYPES:
            raise ValueError(
                f"unknown resolverType {payload.get('resolverType')!r}; "
                f"supported: {', '.join(PAGE_RESOLVER_TYPES)}"
            )
        chain = payload.get("resolverPropertyKeyChain") or ()
        size = payload.get("responseSize")
        if size is not None and int(size) < 1:
            # A zero page size can never terminate an offset sweep —
            # fail at spec parse on every face that consumes this config.
            raise ValueError(f"responseSize must be >= 1, got {size}")
        start = payload.get("startOffset")
        return cls(
            resolver_type=resolver_type,
            resolver_property_key_chain=tuple(str(k) for k in chain),
            response_size=None if size is None else int(size),
            start_offset=None if start is None else int(start),
        )


@dataclass(frozen=True)
class PartitionSpec:
    """One output-partition declaration, serialized for consumers.

    JSON shape matches the reference's StreamPartition
    (src/Sinks/Models/StreamMetadata.cs:10-47; golden in
    test/SinkTests/ParquetSinkTests.cs:142-145).
    """

    description: str
    field_name: str
    field_format: str
    field_expression: str | None = None
    is_date_partition: bool = False

    def to_json_dict(self) -> dict:
        return {
            "description": self.description,
            "field_name": self.field_name,
            "field_format": self.field_format,
            "field_expression": self.field_expression,
            "is_date_partition": self.is_date_partition,
        }


@dataclass
class StreamSpec:
    """Configuration of one stream: the engine's job parameters."""

    stream_id: str = "local-stream"
    stream_kind: str = "generic"
    backfill: bool = False
    #: micro-batch trigger interval (reference default 15 s)
    change_capture_interval: timedelta = field(
        default_factory=lambda: timedelta(seconds=15)
    )
    #: cold-start lookback (reference default 86400 s)
    lookback_range: timedelta = field(default_factory=lambda: timedelta(seconds=86400))
    stop_after_backfill: bool = False
    #: row groups per output file → maps to maxRecordsPerFile-style sizing
    row_groups_per_file: int = 1
    partitions: list[PartitionSpec] = field(default_factory=list)
    #: pagination for REST sources, declared in the spec JSON
    page_resolver: PageResolverConfiguration | None = None
    #: free-form source/sink options from the spec JSON
    options: dict = field(default_factory=dict)

    @classmethod
    def from_dict(cls, payload: dict, *, stream_id: str | None = None,
                  stream_kind: str | None = None,
                  backfill: bool | None = None) -> StreamSpec:
        parts = [
            PartitionSpec(
                description=p.get("description", ""),
                field_name=p.get("field_name", ""),
                field_format=p.get("field_format", ""),
                field_expression=p.get("field_expression"),
                is_date_partition=bool(p.get("is_date_partition", False)),
            )
            for p in payload.get("partitions", [])
        ]
        rgpf = int(payload.get("rowGroupsPerFile", 1))
        if rgpf < 1:
            # ParquetSink.cs:63-66 enforces > 0.
            raise ValueError("rowGroupsPerFile must be a positive integer")
        interval = parse_seconds(payload.get("changeCaptureIntervalSeconds", 15))
        if interval < timedelta(milliseconds=1):
            # the processing-time trigger has millisecond resolution; zero
            # would make Spark poll without pause
            raise ValueError(
                "changeCaptureIntervalSeconds must be at least 0.001 seconds")
        resolver_cfg = payload.get("pageResolver")
        if resolver_cfg is None:
            resolver_cfg = payload.get("options", {}).get("pageResolver")
        return cls(
            stream_id=stream_id or payload.get("streamId", "local-stream"),
            stream_kind=stream_kind or payload.get("streamKind", "generic"),
            backfill=payload.get("backfill", False) if backfill is None else backfill,
            change_capture_interval=interval,
            lookback_range=parse_seconds(payload.get("lookBackRangeSeconds", 86400)),
            stop_after_backfill=bool(payload.get("stopAfterBackfill", False)),
            row_groups_per_file=rgpf,
            partitions=parts,
            # accepted at the payload top level OR inside options — the
            # arcane_rest DataSource face reads the nested shape, so one
            # spec JSON must drive both faces identically. Resolved once
            # with explicit None checks (top level wins): truthiness
            # would silently skip an explicit-but-empty {} config that
            # from_dict should loudly reject (round-13 ADVICE).
            page_resolver=(
                None if resolver_cfg is None
                else PageResolverConfiguration.from_dict(resolver_cfg)
            ),
            options=payload.get("options", {}),
        )


def from_env(env: dict[str, str] | None = None) -> StreamSpec:
    """Build a StreamSpec from STREAMCONTEXT__* environment variables."""
    env = dict(os.environ) if env is None else env
    payload = json.loads(env.get(ENV_SPEC, "{}"))
    backfill = env.get(ENV_BACKFILL, "").lower() in ("true", "1")
    return StreamSpec.from_dict(
        payload,
        stream_id=env.get(ENV_STREAM_ID),
        stream_kind=env.get(ENV_STREAM_KIND),
        backfill=backfill,
    )
